"""Externalized accumulated-doc state — the Elasticsearch analog.

The reference keeps **no** long-lived in-process state: every batch
re-fetches matching docs from ES by id (`terms _id`, scoped to the
batch's date-suffixed indices — /root/reference/lib/logship.js:259-312)
and bulk-upserts the merged docs back (:337-393, `create` fails
harmlessly on replay, `doc_as_upsert` + `detect_noop` make updates
idempotent). That design is the key scaling insight we keep: executor
state stays bounded by the batch regardless of total history.

Spark design:
- state lives in a parquet table partitioned by ``(sink, route_date)``
  (Iceberg-shaped layout; at production scale the same code targets an
  Iceberg table and the upsert becomes ``MERGE INTO``)
- lookup = inner equi-join of the state table (partition-pruned to the
  batch's distinct dates, mirroring uniqYMDs) with the batch's distinct
  qids — the J1 lookup join
- continuation = **cogrouped fold**: state docs ⊔ batch lines by qid,
  seeding :func:`~..operators.assemble.fold_lines` with the committed
  doc so events append in cross-batch order
- upsert = dynamic partition overwrite scoped to the touched
  ``(sink, route_date)`` partitions: incoming docs replace same-qid
  rows, untouched rows in those partitions are carried over, all other
  partitions are never rewritten
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .assemble import DOC_FIELDS, ORDER_COLS, assemble


class StateStore:
    """Parquet/Iceberg-layout doc store keyed by qid."""

    def __init__(self, path: str):
        self.path = path
        # schema of the last read, reused by the next one (see read)
        self._schema = None

    def _fs(self, spark: SparkSession):
        sc = spark.sparkContext
        jvm = sc._jvm  # type: ignore[attr-defined]
        conf = sc._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        mk = jvm.org.apache.hadoop.fs.Path
        hpath = mk(self.path)
        return mk, hpath, hpath.getFileSystem(conf)

    def _recover_swap(self, spark: SparkSession) -> bool:
        """Heal a crashed :meth:`compact` swap. The swap is
        rename(base→old) then rename(tmp→base); a crash between the
        two leaves the live path absent while a COMPLETE copy exists
        under ``__compact_tmp`` (written and closed before the first
        rename) and the pre-compaction copy under ``__compact_old``.
        Without recovery, read()/exists() report 'no state' — a valid
        empty-store answer, so the next run silently proceeds from
        nothing and a later cleanup deletes the only copy.

        Rule (checked only when base is ABSENT, so the happy path
        pays nothing): promote tmp if present (newest complete copy),
        else promote old; delete the other copy only AFTER base is
        restored. Returns True iff a recovery rename happened."""
        mk, hpath, fs = self._fs(spark)
        if fs.exists(hpath):
            return False
        base = self.path.rstrip("/")
        p_tmp = mk(base + "__compact_tmp")
        p_old = mk(base + "__compact_old")
        if fs.exists(p_tmp):
            if not fs.rename(p_tmp, hpath):
                raise IOError(
                    f"state recovery: {base} absent and promoting "
                    f"__compact_tmp failed — refusing to treat the "
                    f"store as empty")
            fs.delete(p_old, True)
            return True
        if fs.exists(p_old):
            if not fs.rename(p_old, hpath):
                raise IOError(
                    f"state recovery: {base} absent and promoting "
                    f"__compact_old failed — refusing to treat the "
                    f"store as empty")
            return True
        return False

    def exists(self, spark: SparkSession) -> bool:
        _, hpath, fs = self._fs(spark)
        if fs.exists(hpath):
            return True
        # base absent: before answering "empty store", heal any
        # crashed compact swap (survivor dirs ⇒ state DOES exist)
        return self._recover_swap(spark)

    def preflight(self, spark: SparkSession) -> None:
        """Sink availability gate — the reference pings ES before
        starting the log reader and shuts down on failure
        (/root/reference/lib/logship.js:35-45), so a misconfigured sink
        fails BEFORE any parse work is spent. Here: prove the state
        root is creatable and writable through its Hadoop FileSystem
        (covers local, hdfs and s3a paths alike) by creating and
        deleting a probe file. Raises PermissionError on any failure;
        callers run this before the first input scan."""
        sc = spark.sparkContext
        jvm = sc._jvm  # type: ignore[attr-defined]
        conf = sc._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        try:
            hpath = jvm.org.apache.hadoop.fs.Path(self.path)
            fs = hpath.getFileSystem(conf)
            fs.mkdirs(hpath)
            probe = jvm.org.apache.hadoop.fs.Path(
                self.path, "_preflight.probe")
            out = fs.create(probe, True)
            out.close()
            fs.delete(probe, False)
        except Exception as exc:  # noqa: BLE001 — any FS failure gates
            raise PermissionError(
                f"sink/state path {self.path!r} failed preflight "
                f"write probe: {exc}") from exc

    def compact(self, spark: SparkSession) -> bool:
        """Small-file maintenance — the Iceberg ``rewrite_data_files``
        / OPTIMIZE analog. Every micro-batch upsert writes its own
        parquet files into the partitions it touches, so a hot
        ``(sink, route_date)`` partition accumulates one file set per
        batch; at 10⁴ batches/day the read-side file count (and footer
        metadata) dominates lookup latency. Compaction rewrites each
        partition to one file per partition key: one shuffle keyed on
        the partition columns, content-identical output. Returns True
        iff a rewrite happened. Run out-of-band (the upsert path never
        needs it for correctness — pinned by the replay tests).

        Implementation: write the compacted layout to a temporary
        sibling directory, then swap it in with two FileSystem renames
        (old→trash, tmp→live) and delete the old files last. Unlike a
        ``localCheckpoint`` of the whole table into executor block
        storage, this streams executor-memory-bounded partitions and
        never holds total state size in block-manager memory/disk —
        the incremental-rewrite property Iceberg's OPTIMIZE has. The
        swap window is two metadata renames; a reader racing them
        retries (the reference's per-batch ES reads have the same
        read-during-bulk-write window)."""
        state = self.read(spark)
        if state is None:
            return False
        base = self.path.rstrip("/")
        tmp, trash = base + "__compact_tmp", base + "__compact_old"
        self._schema = None
        (state.repartition("sink", "route_date")
         .write.mode("overwrite")
         .partitionBy("sink", "route_date")
         .parquet(tmp))
        sc = spark.sparkContext
        jvm = sc._jvm  # type: ignore[attr-defined]
        conf = sc._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        hpath = jvm.org.apache.hadoop.fs.Path(base)
        fs = hpath.getFileSystem(conf)
        p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
        p_trash = jvm.org.apache.hadoop.fs.Path(trash)
        fs.delete(p_trash, True)  # stale trash from a crashed run
        if not fs.rename(hpath, p_trash):
            fs.delete(p_tmp, True)
            raise IOError(f"compact: could not move {base} aside")
        if not fs.rename(p_tmp, hpath):
            fs.rename(p_trash, hpath)  # roll back — old data intact
            raise IOError(f"compact: could not swap {tmp} into {base}")
        fs.delete(p_trash, True)
        return True

    def _has_files(self, spark: SparkSession) -> bool:
        """Whether the root holds anything a parquet read would list
        (Spark skips names starting with ``_`` or ``.``)."""
        _, hpath, fs = self._fs(spark)
        return any(not st.getPath().getName().startswith(("_", "."))
                   for st in fs.listStatus(hpath))

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        """The committed docs, or None for an absent or empty store.

        An empty root (only the preflight probe ran) is answered from
        one directory listing, not from a failed schema inference. The
        inferred schema is kept and reused by later reads: a batch
        reads state twice (lookup, then upsert), and each inference is
        a Spark job over the parquet footers. An upsert keeps it only
        when it wrote the same columns with the same types, and
        ``compact`` drops it."""
        if not self.exists(spark) or not self._has_files(spark):
            return None
        reader = spark.read
        if self._schema is not None:
            reader = reader.schema(self._schema)
        try:
            df = reader.parquet(self.path)
        except Exception as exc:  # only hidden or empty entries
            if "UNABLE_TO_INFER_SCHEMA" in str(exc):
                return None
            raise
        self._schema = df.schema
        return df

    def lookup(self, spark: SparkSession, keys: DataFrame,
               dates: Optional[list[str]] = None) -> Optional[DataFrame]:
        """Committed docs matching the batch's qids.

        ``dates`` prunes state partitions exactly like the reference's
        uniqYMD index list confines the ES search (lib/logship.js:263-279).
        """
        state = self.read(spark)
        if state is None:
            return None
        if dates:
            state = state.filter(F.col("route_date").isin(dates))
        return state.join(F.broadcast(keys.select("qid").distinct()),
                          "qid", "inner")

    @staticmethod
    def _doc_hash(df: DataFrame) -> Column:
        """Canonical content hash of a doc row (sorted-column JSON →
        xxhash64) — the detect_noop comparator."""
        cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
        return F.xxhash64(F.to_json(F.struct(*cols)))

    def upsert(self, spark: SparkSession, incoming: DataFrame,
               detect_noop: bool = True) -> bool:
        """MERGE-equivalent: replace-by-qid within touched partitions.

        Uses dynamic partition overwrite so only (sink, route_date)
        partitions present in ``incoming`` are rewritten — the scan and
        rewrite cost scales with the batch's day-spread, not with total
        state size. The required
        ``spark.sql.sources.partitionOverwriteMode=dynamic`` is set for
        the duration of the write and restored afterwards: under the
        default ``static`` mode the overwrite would truncate the WHOLE
        table while the lazy carry rows still read from it — total loss
        of untouched partitions.

        When state exists, ``incoming`` is materialized ONCE with
        ``localCheckpoint(eager=True)`` before any action: the
        touched-date collect, the detect_noop anti-join, the carry
        union and the write all read that one copy, so the upstream
        parse→fold runs once per batch (a lazy input re-runs it for
        every action), and the write stores exactly the docs the noop
        test compared. ``localCheckpoint``, not ``persist``:
        a cached plan keeps its full shuffle partition count because
        AQE does not coalesce it, so the dynamic-overwrite write would
        emit one small file per shuffle partition per touched
        partition; the checkpoint runs the AQE-coalesced plan and the
        write keeps the lazy plan's file count. The checkpoint holds
        one batch's docs in executor block storage; a lost block fails
        the attempt and the batch is replayed whole
        (``run_batch_with_retry``). The touched dates are observed by
        the job that builds the checkpoint, so they cost no job of
        their own; the detect_noop anti-join reads the copy inside the
        one aggregate that finds the changed partitions. The first
        upsert into an empty store has a single consumer and writes
        lazily.

        ``detect_noop=True`` (the reference's ``detect_noop: true``
        bulk-update option, lib/logship.js:370) suppresses writes at
        **per-partition granularity**: the reference's detect_noop is
        per *document*, and the closest parquet-overwrite analog is to
        rewrite only the ``(sink, route_date)`` partitions that contain
        at least one changed-or-new doc — partitions a batch merely
        *touches* with byte-identical docs keep their files untouched
        (mtimes included; pinned by
        tests/test_round3.py::test_upsert_rewrites_only_changed_partitions).
        This is the behavior a real Iceberg ``MERGE INTO`` gives
        (rewrite only matching files); at scale the difference is the
        dominant write cost — a micro-batch touching a hot day-
        partition with one changed doc must not rewrite the whole day
        spread including carry rows. A fully-unchanged batch returns
        False and writes nothing (idempotent replay). The extra cost is
        one hash-only anti-join over the touched partitions — id+hash
        longs plus the partition keys, never doc bodies.

        Partition migration (qid committed under one (sink, route_date)
        arriving under another — e.g. an orphan→parent sink flip when
        the parent map gains an entry between batches): the committed-
        side partitions of changed qids are added to the rewrite set,
        so the stale committed row is dropped from its OLD partition in
        the same write (without this the old partition kept a duplicate
        row per migrated qid). A partition whose every row migrated
        away would write zero rows — dynamic overwrite cannot express
        an empty partition, so those are deleted explicitly after the
        write. NOTE the pipeline additionally *pins* committed docs to
        their committed (sink, route_date) exactly like the reference
        pins matched docs to their found ES index
        (/root/reference/lib/logship.js:298), so migrations never reach
        this path in the normal flow; this handling keeps direct upsert
        callers correct too. Migrations across route_dates OUTSIDE the
        batch's date spread are invisible by design — the same scoping
        the reference's uniqYMD index list imposes on its ES search.
        With ``detect_noop=False`` (raw replace mode, non-default) a
        partition fully emptied by migration is NOT cleaned — that
        mode skips the committed-side key scan entirely; use the
        default, or keep the pipeline's routing pin, where migrations
        are possible.
        """
        state = self.read(spark)
        known = self._schema if state is not None else None
        emptied_parts: list[str] = []
        migrated_only: set[str] = set()
        if state is not None:
            # every action below reads this one materialization, so the
            # upstream exchange + fold runs once per batch; the touched
            # dates are observed by the job that builds it
            seen = Observation("upsert_touched")
            incoming = (incoming.observe(
                seen, F.collect_set("route_date").alias("touched"))
                .localCheckpoint(eager=True))
            touched = seen.get["touched"]
            scoped = state.filter(F.col("route_date").isin(touched))
            if detect_noop:
                pkey = F.concat_ws("\x00", F.col("sink"),
                                   F.col("route_date"))
                inc_keyed = incoming.select(
                    pkey.alias("_p"), "qid",
                    self._doc_hash(incoming).alias("_h"))
                st_keyed = scoped.select(
                    pkey.alias("_p"), "qid",
                    self._doc_hash(scoped).alias("_h"))
                # changed-or-new docs: no committed row with same hash
                changed = inc_keyed.join(
                    st_keyed.select("qid", "_h"), ["qid", "_h"],
                    "left_anti")
                # one action: the changed docs' partitions plus the OLD
                # partitions of those qids (migration)
                parts = (changed.join(
                    st_keyed.select("qid", F.col("_p").alias("_old")),
                    "qid", "left")
                    .agg(F.collect_set("_p").alias("inc"),
                         F.collect_set("_old").alias("old"))
                    .first())
                inc_parts, old_parts = set(parts["inc"]), set(parts["old"])
                changed_parts = sorted(inc_parts | old_parts)
                if not changed_parts:
                    return False
                # bounded metadata: batch day-spread × sinks entries
                incoming = incoming.filter(pkey.isin(changed_parts))
                scoped = scoped.filter(pkey.isin(changed_parts))
                migrated_only = old_parts - inc_parts
            carry = scoped.join(incoming.select("qid").distinct(), "qid",
                                "left_anti")
            incoming = incoming.unionByName(carry)
            if detect_noop and migrated_only:
                # a migration left old partitions with possibly zero
                # surviving rows — dynamic overwrite cannot express an
                # empty partition, so find and delete those explicitly.
                # Runs ONLY when a migration was detected (the common
                # no-migration batch pays no extra action).
                out_parts = {r["_p"] for r in
                             incoming.select(pkey.alias("_p"))
                             .distinct().collect()}
                emptied_parts = sorted(migrated_only - out_parts)
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf_key, "static")
        spark.conf.set(conf_key, "dynamic")
        self._schema = None
        try:
            (incoming.write.mode("overwrite")
             .partitionBy("sink", "route_date")
             .parquet(self.path))
        finally:
            spark.conf.set(conf_key, prev)
        if known is not None and _layout(incoming.schema) == _layout(known):
            # same files' schema: the next read would infer ``known``
            self._schema = known
        if emptied_parts:
            sc = spark.sparkContext
            jvm = sc._jvm  # type: ignore[attr-defined]
            conf = sc._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
            for p in emptied_parts:
                sink, rd = p.split("\x00", 1)
                part_dir = jvm.org.apache.hadoop.fs.Path(
                    f"{self.path.rstrip('/')}/sink={sink}/route_date={rd}")
                fs = part_dir.getFileSystem(conf)
                fs.delete(part_dir, True)
        return True


def _layout(schema) -> list[tuple[str, str]]:
    """The data columns a state write stores, in file order: names and
    types without nullability (a parquet read makes every field
    nullable)."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields
            if f.name not in ("sink", "route_date")]


def merge_with_state(
    parsed: DataFrame,
    state_docs: Optional[DataFrame],
) -> DataFrame:
    """Continuation fold: committed docs ⊔ new lines by qid.

    Equivalent to the reference's populatePfdocsFromEs → updatePfDocs
    sequence: a qid with a committed doc continues from it; a fresh qid
    starts from the template. Implemented as a **seed-row union**: each
    committed doc becomes one row carrying its JSON form with every
    ``ORDER_COLS`` column = −1, unioned into the parsed-line stream, so the
    continuation costs exactly the same single exchange as the plain
    fold (no per-key cogroup round-trips)."""
    if state_docs is None:
        return assemble(parsed)

    ptypes = dict(parsed.dtypes)
    doc_cols = [F.col(f"`{f.name}`") for f in DOC_FIELDS]
    seeds = state_docs.select(
        F.col("qid"),
        F.to_json(F.struct(*doc_cols)).alias("_seed_json"),
        *[F.lit(-1).cast(ptypes.get(c, "bigint")).alias(c)
          for c in ORDER_COLS],
    )
    unioned = parsed.unionByName(seeds, allowMissingColumns=True)
    return assemble(unioned)
