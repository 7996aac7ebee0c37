"""Vector math over ``array<float/double>`` embedding columns.

Everything is JVM-side via Spark higher-order functions (``zip_with`` /
``aggregate`` / ``transform``) — no UDFs in the hot path, so similarity
scans stay inside codegen and scale linearly with the corpus.  These are
north-star additions (SURVEY.md §2.8); the reference has no vector ops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (element-wise, JVM-side).

    Length-mismatched or NULL inputs yield NULL (``zip_with`` pads the
    shorter side with NULL, which poisons the sum) — callers that must
    not silently drop such rows should validate ``size()`` up front,
    as ``similarity.embedding_near_dup_pairs`` and ``kmeans_fit`` do."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na != 0) & (nb != 0), d / (na * nb))


def unit(vec: Column, n: Column) -> Column:
    """vec / n, element-wise.  Pass ``n`` as a MATERIALIZED column (own
    projection): a lambda capturing a computed norm subtree would
    re-evaluate it per element.  Zero norm → NULL elements via
    ``try_divide`` (a plain ``/`` would ABORT the job under Spark 4's
    default ANSI mode instead of honoring this contract)."""
    return F.transform(vec, lambda x: F.try_divide(x.cast("double"), n))


def hyperplane_dot(vec: Column, weights: list[float]) -> Column:
    """Dot of a vector column with a literal hyperplane (for LSH): the
    constants are baked into the plan, so both Spark and an ANSI-SQL
    oracle evaluate the identical expression."""
    from vtk_reserves_spark.functions.plan_literals import lit_double_array

    return dot(vec, lit_double_array(weights))


def lsh_bucket(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Random-hyperplane (sign) LSH bucket id: bit b = 1 iff
    ``dot(vec, h_b) > 0``.  With n_bits hyperplanes the corpus is split
    into up to 2^n_bits buckets; cosine-similar vectors collide with
    high probability, so an ANN query only scans its own bucket.

    A NULL or dimension-mismatched vector (NULL hyperplane dot) gets a
    NULL bucket — it drops out of bucket joins instead of piling every
    malformed row into bucket 0 alongside legitimate vectors.

    Built as ONE constant-size expression over an
    ``array<array<double>>`` hyperplane literal: the previous per-bit
    ``bucket + when(dot > 0, ...)`` chain paid ~3 higher-order-function
    constructions (~18 ms of py4j each) PER BIT PER CALL — ~0.9 s of
    driver time per lsh_topk build at n_bits=4, n_tables=2.  ``vec``
    is only ever a plain column reference at the call sites, so its
    capture inside the lambda re-references an attribute, not a
    subtree; the dot is referenced ONCE per plane via
    ``(d > 0)::int * 2^b`` (sign*weight), which preserves the
    NULL-propagation contract bit-for-bit."""
    from vtk_reserves_spark.functions.plan_literals import lit_double_matrix

    if not hyperplanes:
        # zero bits: one bucket.  The general path would zip the empty
        # matrix with sequence(0, -1) = [0, -1] and yield NULL.
        return F.when(vec.isNotNull(), F.lit(0))
    mat = lit_double_matrix(hyperplanes)
    idx = F.sequence(F.lit(0), F.lit(len(hyperplanes) - 1))
    bits = F.zip_with(
        mat,
        idx,
        lambda p, b: F.call_function(
            "shiftleft", (dot(p, vec) > F.lit(0)).cast("int"), b
        ),
    )
    return F.aggregate(bits, F.lit(0), lambda a, x: a + x).cast("int")


def deterministic_hyperplanes(n_bits: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Pseudo-random hyperplanes derived from md5 so any engine can
    reproduce them from (seed, n_bits, dim) alone — the constants are
    emitted as literals into both the Spark plan and the SQL oracle."""
    import hashlib

    planes = []
    for b in range(n_bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}_{b}_{d}".encode()).hexdigest()
            row.append((int(h[:8], 16) % 2001) / 1000.0 - 1.0)  # [-1, 1]
        planes.append(row)
    return planes
