"""HyperLogLog++ distinct counts from a narrow register aggregate.

`approx_count_distinct(c, rsd)` keeps its 2^p six-bit registers packed
ten to a long in ONE aggregation buffer: at rsd 0.01 (p = 14) that is
1,639 long fields per column.  Spark generates the buffer projections of
so wide an aggregate again in every task, ~2 s per task before a row is
read, whatever the row count.  The registers themselves are just
max(rho) per (group, register index): `hll_distinct` builds them with a
plain declarative `max` (a one-int buffer, code-generated), ships only
register rows through the shuffle, and finishes each group in one
pandas kernel that evaluates Spark's own estimator.

`query` is a line-by-line port of `HyperLogLogPlusPlusHelper.query` as
compiled in spark-catalyst 4.1.2 (Heule, Nunkesser, Hall, "HyperLogLog in
Practice", EDBT 2013): same register-order zInverse sum, same
linear-counting switch, same K = 6 bias interpolation over the bias
tables, which are read from the running JVM — so every count equals
`approx_count_distinct` to the unit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

K = 6   # HyperLogLogPlusPlusHelper.K: neighbours in the bias interpolation


def precision(rsd: float) -> int:
    """HLL++'s p for a relative standard deviation (the helper's
    constructor: ceil(2 log2(1.106 / rsd)); 14 at rsd 0.01)."""
    return int(math.ceil(2.0 * math.log(1.106 / rsd) / math.log(2.0)))


def jvm_tables(spark, p: int) -> tuple[float, list[float], list[float]]:
    """(THRESHOLDS[p-4], RAW_ESTIMATE_DATA[p-4], BIAS_DATA[p-4]) from the
    JVM's HyperLogLogPlusPlusHelper; each double[] crosses py4j as one
    byte array."""
    jvm = spark._jvm
    helper = jvm.org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper

    def doubles(arr) -> list[float]:
        buf = jvm.java.nio.ByteBuffer.allocate(8 * len(arr))
        buf.asDoubleBuffer().put(arr)
        return np.frombuffer(bytes(buf.array()), dtype=">f8").tolist()

    return (float(helper.THRESHOLDS()[p - 4]),
            doubles(helper.RAW_ESTIMATE_DATA()[p - 4]),
            doubles(helper.BIAS_DATA()[p - 4]))


def java_round(x: float) -> int:
    """java.lang.Math.round: floor(x + 1/2) evaluated exactly (x - floor(x)
    is exact for a double, x + 0.5 is not), saturated to the long range."""
    f = math.floor(x)
    r = int(f) + (1 if x - f >= 0.5 else 0)
    return max(-(1 << 63), min((1 << 63) - 1, r))


def linear_counting(m: int, v: float) -> float:
    """H = m ln(m / V), the estimate for a sketch with V > 0 empty
    registers (Python's log may differ from Java's intrinsic in the last
    bit; tests pin that the rounded value and the threshold branch agree
    for every V)."""
    return m * math.log(m / v)


def _alpha_m2(p: int) -> float:
    m = float(1 << p)
    if p == 4:
        return 0.673 * m * m
    if p == 5:
        return 0.697 * m * m
    if p == 6:
        return 0.709 * m * m
    return 0.7213 / (1.0 + 1.079 / m) * m * m


def _binary_search(a: list[float], key: float) -> int:
    """java.util.Arrays.binarySearch(double[], 0, n, key) for non-NaN keys."""
    low, high = 0, len(a) - 1
    while low <= high:
        mid = (low + high) >> 1
        if a[mid] < key:
            low = mid + 1
        elif a[mid] > key:
            high = mid - 1
        else:
            return mid
    return -(low + 1)


def _estimate_bias(e: float, raw: list[float], bias: list[float]) -> float:
    n = len(raw)
    i = _binary_search(raw, e)
    nearest = i if i >= 0 else -(i + 1)
    low = max(nearest - K + 1, 0)
    high = min(low + K, n)

    def distance(j: int) -> float:
        d = e - raw[j]
        return d * d

    while high < n and distance(high) < distance(low):
        low += 1
        high += 1
    total = 0.0
    for j in range(low, high):
        total += bias[j]
    return total / (high - low)


def query(registers: np.ndarray, p: int, tables) -> int:
    """HyperLogLogPlusPlusHelper.query over 2^p register values."""
    threshold, raw, bias = tables
    m = 1 << p
    # zInverse adds 1.0 / (1L << register) in register order (rho <= 61,
    # so the shift never wraps); accumulate keeps that order
    z_inverse = float(np.add.accumulate(np.ldexp(1.0, -registers))[-1])
    v = float(np.count_nonzero(registers == 0))
    e = _alpha_m2(p) / z_inverse

    def e_bias_corrected(e: float) -> float:
        if p < 19 and e < 5.0 * m:
            return e - _estimate_bias(e, raw, bias)
        return e

    if v > 0:
        h = linear_counting(m, v)
        if (p < 19 and h <= threshold) or e <= 2.5 * m:
            estimate = h
        else:
            estimate = e_bias_corrected(e)
    else:
        estimate = e_bias_corrected(e)
    return java_round(estimate)


def hll_distinct(df: DataFrame, key: str, columns: dict[str, str],
                 rsd: float) -> DataFrame:
    """(key, *columns) — `approx_count_distinct(column, rsd)` per key for
    each {output name: column}, from register rows.  Keys whose columns
    are all null have no register rows and no output row (callers
    left-join and read 0)."""
    p = precision(rsd)
    tables = jvm_tables(df.sparkSession, p)
    names = list(columns)
    # HLL++ hashes each non-null value with xxhash64, seed 42 (the
    # xxhash64 function's seed); hashing before the explode keeps each
    # column's own type
    hashed = df.select(key, F.inline(F.array(*[
        F.struct(F.lit(i).alias("col"),
                 F.when(F.col(c).isNotNull(), F.xxhash64(c)).alias("h"))
        for i, c in enumerate(columns.values())
    ]))).where(F.col("h").isNotNull())
    # HLL++'s update: idx = the top p bits of h, rho = 1 + leading zeros
    # of w = h << p | 1 << (p - 1).  bin() of a long prints its
    # two's-complement digits without leading zeros, so rho = 65 -
    # length(bin(w)) (w is never 0)
    h = F.col("h")
    idx = F.shiftrightunsigned(h, 64 - p).cast("int")
    w = F.shiftleft(h, p).bitwiseOR(F.lit(1 << (p - 1)).cast("long"))
    rho = (F.lit(65) - F.length(F.bin(w))).cast("int")
    registers = hashed.groupBy(key, "col", idx.alias("idx")).agg(
        F.max(rho).alias("rho"))

    def estimate(group_key, pdf):
        regs = np.zeros((len(names), 1 << p), dtype=np.int64)
        regs[pdf["col"].to_numpy(), pdf["idx"].to_numpy()] = pdf["rho"]
        return pd.DataFrame({key: [group_key[0]], **{
            name: [query(regs[i], p, tables)] for i, name in enumerate(names)
        }})

    schema = StructType([df.schema[key]] + [
        StructField(name, LongType(), False) for name in names])
    return registers.groupBy(key).applyInPandas(estimate, schema=schema)
