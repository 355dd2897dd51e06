"""Local mirror of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
on DuckDB over the same parquet, compare row count, column names, and
exact values (order-insensitive)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duckdb_on(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def ddb():
    return _duckdb_on(SF_DIR)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _assert_equal(spark_pdf: pd.DataFrame, ddb_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(ddb_pdf.columns), name
    assert len(spark_pdf) == len(ddb_pdf), (
        f"{name}: rows {len(spark_pdf)} vs {len(ddb_pdf)}")
    a, b = _canon(spark_pdf), _canon(ddb_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"
            else:
                assert str(x) == str(y), f"{name}.{col}[{i}]: {x!r} != {y!r}"


ORACLE_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    ddb_pdf = ddb.sql(entry_mod.oracle_sql()[name]).df()
    assert len(spark_pdf) > 0 or name in ("dedup_exact", "token_jaccard_pairs"), \
        f"{name}: empty result"
    _assert_equal(spark_pdf, ddb_pdf, name)


# Separators the tokenizers once disagreed on: Java's \s splits on
# \x0b and RE2's does not; Python's str.split() splits on NBSP, U+0085
# and U+2028 and neither regex does. One document carries all four.
ODD_WS = ("\x0b", "\u00a0", "\u0085", "\u2028")
ODD_WS_QUERIES = [
    "chunk_documents", "corpus_report", "dedup_exact", "fingerprint",
    "gopher_quality", "incremental_dedup", "lang_id", "minhash_neardup",
    "pack_sequences", "pack_sequences_bpe", "perplexity_bucket",
    "quality", "quality_classifier", "repetition_stats", "shard_manifest",
    "text_quality_full", "token_jaccard_pairs", "token_stats",
    "vocabulary"]


@pytest.fixture(scope="module")
def odd_ws_dir(tmp_path_factory):
    """The driver tables with doc 3's first four word separators
    replaced by :data:`ODD_WS`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("odd_ws")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    i = docs.index[docs["doc_id"] == 3][0]
    words = docs.at[i, "text"].split(" ")
    assert len(words) > len(ODD_WS) + 1
    seps = list(ODD_WS) + [" "] * (len(words) - 1 - len(ODD_WS))
    docs.at[i, "text"] = "".join(
        w + s for w, s in zip(words, seps)) + words[-1]
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("name", ODD_WS_QUERIES)
def test_query_matches_oracle_on_odd_whitespace(spark, odd_ws_dir, name):
    """Every tokenizer splits on the DuckDB oracles' whitespace class:
    the tokenizing queries still match their oracle when one document
    separates words with \x0b, NBSP, U+0085 and U+2028."""
    spark_pdf = entry_mod.queries()[name](spark, odd_ws_dir).toPandas()
    con = _duckdb_on(odd_ws_dir)
    ddb_pdf = con.sql(entry_mod.oracle_sql()[name]).df()
    _assert_equal(spark_pdf, ddb_pdf, name)


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run with stable schema."""
    qs = entry_mod.queries()
    for name in sorted(set(qs) - set(ORACLE_NAMES)):
        df = qs[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0, name
        assert len(df.columns) > 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
