"""Vector math as JVM-side higher-order array expressions (SURVEY.md §2 J7).

All functions take ArrayType columns and return Column expressions — no
Python boundary. The folds are `zip_with`, `aggregate` and `transform`,
which Spark evaluates interpreted: those expressions implement
CodegenFallback, so a Project or Filter that holds one is left out of
whole-stage codegen and the fold runs through `eval`. Inputs are cast to array<double> first: the
fixtures store float32 embeddings, and double-precision accumulation is
what the DuckDB oracle computes when given DOUBLE[], so both sides agree
to ~1 ulp.

`cosine_to` and `sq_l2_to` score a column against ONE driver-side query
vector, the shape of every kNN/ANN re-rank. The query becomes a single
parsed array literal (`localrel.lit_matrix`, 3 Py4J calls instead of one
per element), and `cosine_to` folds the query norm on the driver.

The Arrow/pandas paths for bulk similarity live in
operators/similarity.py: a scalar pandas UDF (`knn_pandas`) and one
numpy matmul per LSH bucket through `applyInPandas`
(`similarity_self_join`).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from parking_violations_data_pipeline_spark.functions.localrel import lit_matrix


def _d(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] via zip_with + aggregate (JVM-side, interpreted
    folds — see the module docstring)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def norm(a: Column) -> Column:
    """Euclidean norm."""
    return F.sqrt(F.aggregate(_d(a), F.lit(0.0), lambda s, x: s + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity. A zero-norm vector has no direction — the
    similarity is mathematically undefined, so it comes back NULL
    (try_divide) rather than aborting the job under ANSI mode. Oracles
    that call DuckDB's list_cosine_similarity (which returns its own
    -1.0 convention on a zero vector) must CASE-guard the zero-norm
    row to NULL to express the same semantics."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_to(a: Column, query: Sequence[float] | None) -> Column:
    """`cosine_sim(a, query)` for a driver-side query vector, with the
    query norm folded on the driver into a scalar literal: a
    higher-order fold over a literal array is not constant-folded by
    Catalyst, so `norm(query)` would re-traverse the literal for every
    row (measured 2.2× slower on q_knn_cosine). The Python loop is the
    same left-to-right IEEE-double fold the JVM aggregate performs, so
    the result is bitwise identical to `cosine_sim`. A None query is a
    NULL literal: every similarity is NULL."""
    if query is None:
        qv = F.lit(None).cast("array<double>")
        qn = F.lit(None).cast("double")
    else:
        q = [float(x) for x in query]
        qv = lit_matrix(q)
        s = 0.0
        for x in q:
            s += x * x
        qn = F.lit(math.sqrt(s))
    return F.try_divide(dot(a, qv), norm(a) * qn)


def sq_l2_to(a: Column, query: Sequence[float]) -> Column:
    """Squared Euclidean distance Σ (a[i] - q[i])² to a driver-side
    query vector."""
    return F.aggregate(
        F.zip_with(
            _d(a), lit_matrix([float(x) for x in query]),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
