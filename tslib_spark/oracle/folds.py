"""Higher-order fold forms of the signature kernels, kept as test references.

Each function is the straightforward Catalyst-expression statement of a
signature whose production form is faster but harder to read:

- ``minhash_signature`` ↔ ``operators.dedup.minhash_signature_agg``
- ``simhash`` ↔ ``operators.dedup.simhash_agg``
- ``hyperplane_signature`` ↔ ``operators.similarity.hyperplane_signatures_arrow``

The folds run interpreted lambda machinery per array element, so no
production path calls them; the parity tests require the production forms
to match them bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tslib_spark.functions.text import tokens


def minhash_signature(
    df: DataFrame, shingle_col: str = "shingles", num_hashes: int = 64, seed: int = 42,
    out_col: str = "minhash",
) -> DataFrame:
    """num_hashes-wide MinHash signature: min over xxhash64(shingle, seed_i),
    as one fold over the shingle array into a num_hashes-wide array of
    running minima. The seeds are an IntegerType ``sequence``."""
    seeds = F.sequence(F.lit(seed), F.lit(seed + num_hashes - 1))
    init = F.array_repeat(F.lit(2**63 - 1).cast("long"), num_hashes)
    sig = F.aggregate(
        F.col(shingle_col),
        init,
        lambda acc, s: F.zip_with(
            acc, F.transform(seeds, lambda i: F.xxhash64(s, i)), lambda a, b: F.least(a, b)
        ),
    )
    return df.withColumn(out_col, sig)


def simhash(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash: bit b = majority vote of token-hash bit b, weighted
    by token frequency (every occurrence votes).

    One fold over ``tokens(text)`` into a 64-wide vote vector, then one fold
    packing the sign bits. SQL-expression form: the Python F.shiftright
    wrapper only takes a literal shift amount, while the SQL function
    accepts a column — inside higher-order lambdas we need the latter.
    """
    toked = df.withColumn("_sim_toks", tokens(F.col(text_col)))
    sim = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              _sim_toks,
              array_repeat(0, 64),
              (acc, t) -> zip_with(
                acc,
                transform(sequence(0, 63),
                          b -> cast(shiftright(xxhash64(t), b) & 1L as int) * 2 - 1),
                (a, v) -> a + v)),
            sequence(0, 63),
            (v, b) -> struct(v as v, b as b)),
          cast(0 as bigint),
          (acc, x) -> acc + CASE
              WHEN x.v > 0 AND x.b = 63 THEN cast({-(2**63)} as bigint)
              WHEN x.v > 0 THEN shiftleft(cast(1 as bigint), x.b)
              ELSE cast(0 as bigint) END)
        """
    )
    return toked.withColumn(out_col, sim).drop("_sim_toks")


def hyperplane_signature(vec_col: Column, planes: np.ndarray) -> Column:
    """Bit signature: sign of <v, plane_j> per plane, packed into a long.

    The dot product folds left to right in float64, the order the Arrow
    kernel and the frozen similarity fixtures replicate. ``planes`` is a
    (n_planes, dim) array shipped as ONE flat ArrayType literal (a single
    Catalyst Literal node), not ``n_planes × dim`` scalar literals.
    """
    n_planes, dim = planes.shape
    flat = F.lit([float(x) for x in planes.ravel()])
    # shiftleft()'s Python wrapper takes only a literal shift, so the
    # per-bit weights ride along as a second array literal
    powers = F.lit([1 << j for j in range(n_planes)])
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            F.aggregate(
                F.zip_with(vec_col, F.slice(flat, j * dim + 1, dim), lambda x, y: x * y),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            >= 0,
            F.element_at(powers, j + 1),
        ).otherwise(F.lit(0).cast("long")),
    )
