"""Native Bloom filter over int64 keys — build and probe are pure Spark
expressions (Bloom 1970; sizing per the standard m = -n ln p / ln^2 2).

Spark's own BloomFilterAggregate is internal-only (it backs runtime
row-level filtering and is not registered as a SQL routine in this
build — verified), so the sketch is built from first principles with
the same public primitives the rest of the engine uses:

  * positions: k independent probes `pmod(xxhash64(key, seed_i), m)`,
  * build: explode the k positions, ONE tiny `groupBy(word).agg(bit_or
    (shiftleft(1L, pos % 64)))` — the shuffle carries at most m/64
    rows regardless of input size, and the finished sketch is an
    int64 word array of m/8 bytes on the driver,
  * probe: `bit_get(element_at(words, (pos >> 6) + 1), pos % 64)`
    AND-folded over the k probes — whole-stage-codegen'd, no Python.

The word array travels as a ONE-ROW broadcast frame (crossJoin with a
single row is a BroadcastNestedLoopJoin that costs one array reference
per partition) — a `lit()` array literal would inline m/64 children
into the Catalyst tree, which every analyzer and optimizer rule then
walks.

False negatives are impossible (probe tests exactly the bits build
set); false positives are bounded by the sizing formula and measured
in the pytest suite.
"""

import math

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate; m_bits is rounded
    up to a multiple of 64 (whole words), k to >= 1."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(1, int(n_items))
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _positions(key: Column, m_bits: int, k: int, seed: int) -> list[Column]:
    return [F.pmod(F.xxhash64(key, F.lit(seed + i)), F.lit(m_bits))
            for i in range(k)]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int,
    k: int,
    seed: int = 42,
) -> np.ndarray:
    """Aggregate a key frame into the sketch's int64 word array.  The
    only driver-side data is the m/8-byte sketch itself."""
    pos = keys.select(
        F.explode(F.array(*_positions(F.col(key_col), m_bits, k, seed))
                  ).alias("pos")
    )
    rows = (
        pos.select(
            F.shiftright("pos", 6).alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"),
                F.pmod("pos", F.lit(64)).cast("int")
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    words = np.zeros(m_bits // 64, dtype=np.int64)
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_carrier(spark, words: np.ndarray, col_name: str = "__bf"
                  ) -> DataFrame:
    """The one-row broadcast frame carrying the word array."""
    return spark.createDataFrame(
        [([int(w) for w in words],)], f"{col_name} array<bigint>"
    )


def bloom_probe(bf: Column, key: Column, m_bits: int, k: int,
                seed: int = 42) -> Column:
    """True when the key MIGHT be in the sketch built with the same
    (m_bits, k, seed) — never false for a key that was inserted."""
    test = None
    for pos in _positions(key, m_bits, k, seed):
        word = F.element_at(bf, (F.shiftright(pos, 6) + F.lit(1)).cast("int"))
        bit = F.bit_get(word, F.pmod(pos, F.lit(64)))
        t = bit == F.lit(1)
        test = t if test is None else (test & t)
    return test
