"""The one constructor for the package's Arrow batch kernels."""

from __future__ import annotations

from pyspark.sql.functions import pandas_udf


def arrow_kernel(return_type):
    """Decorator: ``fn`` as a scalar Arrow ``pandas_udf`` returning
    ``return_type``, marked non-deterministic.

    Why the marking: the optimizer treats a deterministic UDF as a free
    expression and copies it wherever a plan rewrite wants its value —
    into a filter pushed below the projection that computes it, into a
    join's inferred ``isnotnull(…)`` constraint, below a generator.
    Each copy becomes its own ``ArrowEvalPython`` node, so every task
    ships the batch to one more Python worker and runs the kernel over
    it again (one dedup call once planned 4 such nodes; the IVF corpus
    assign planned 2). A non-deterministic expression is never copied
    or moved, so each kernel runs once per row. The price is that
    filters above it are not pushed below it either.

    Build kernels inside a function, not at import: a DDL
    ``return_type`` string is parsed against the active session."""

    def wrap(fn):
        return pandas_udf(fn, return_type).asNondeterministic()

    return wrap
