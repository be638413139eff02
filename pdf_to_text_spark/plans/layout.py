"""Partition layout: url-hash bucketing and small-scan spreading.

The bucket column keys the resumable job's waves and the per-bucket
metrics. Megabyte-PDF skew is balanced at the scan, not by a shuffle:
the extraction kernel maps over size-bounded scan splits
(maxPartitionBytes caps each task's input), so extraction never
repartitions a page payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import N_BUCKETS


def with_bucket(df: DataFrame, url_col: str = "url", n_buckets: int = N_BUCKETS) -> DataFrame:
    """bucket = pmod(xxhash64(url), n_buckets) — deterministic, JVM-side."""
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)))


# ── driver-side mirror of the JVM bucket expression ──────────────────────────
# XXH64 (Collet's public spec, same algorithm Spark's xxhash64 expression
# implements) over the UTF-8 bytes with Spark's fixed seed 42. Needed so
# pure-Python code (the synthetic-corpus generator, tests) can PREDICT a
# row's bucket without a SparkSession — e.g. crafting mega-doc urls that
# really concentrate into two buckets (r6 review: the previous urls only
# claimed to). Parity with F.xxhash64 is pinned by a test.

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    acc = (acc + lane * _XP2) & _M64
    return (_rotl64(acc, 31) * _XP1) & _M64


def _xxh_merge(acc: int, val: int) -> int:
    acc ^= _xxh_round(0, val)
    return ((acc * _XP1) + _XP4) & _M64


def xxhash64_py(data: bytes | str, seed: int = 42) -> int:
    """XXH64(data, seed) as a SIGNED 64-bit int — bit-identical to Spark's
    `xxhash64` expression on a single string/binary column."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i <= n - 32:
            v1 = _xxh_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = _xxh_merge(h, v)
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl64(h, 27) * _XP1) + _XP4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XP1) & _M64
        h = ((_rotl64(h, 23) * _XP2) + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_rotl64(h, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(url: str, n_buckets: int = N_BUCKETS) -> int:
    """pmod(xxhash64(url), n_buckets) without a SparkSession."""
    return xxhash64_py(url) % n_buckets


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Adaptive parallelism fix for CPU-heavy map stages over SMALL scans
    (optimization guide §2: derive partitioning from input size, never a
    constant tuned for one corpus).

    A single-row-group parquet file scans as ONE task no matter how low
    maxPartitionBytes goes (Spark assigns a row group to the split holding
    its midpoint), so every kernel/regex-heavy map stage downstream runs
    at parallelism ~1 while 31 cores idle — measured 6-9 s per query at
    the 50k-doc bench scale where the same work takes <0.5 s spread out.
    The fix is a round-robin repartition, applied ONLY when it is provably
    cheap and useful:

      * skip when the relation is tiny (< SPREAD_MIN_BYTES): scheduling
        extra tasks costs more than they recover (measured r6: a blanket
        repartition(128) was SLOWER for every dedup query at sf0.1);
      * skip when the relation is large (> SPREAD_MAX_BYTES): a big table
        is many files/row groups, the scan is already parallel, and
        re-shuffling it would be the payload-shuffle anti-pattern this
        repo bans — at 100 TB this helper is a structural no-op;
      * skip when the scan already has >= defaultParallelism input files
        (each file is at least one task).

    Partition count scales with estimated input bytes (one partition per
    SPREAD_TARGET_BYTES of source data, floored at 8, capped at 2x
    defaultParallelism). Estimates come from the optimizer's relation
    stats (file sizes for parquet, actual bytes for local relations) —
    when stats are unavailable the input is returned unchanged. Callers
    pass the PROJECTED relation (id + text, never payloads) so the
    shuffle carries only the columns the kernel needs (guide §2.3)."""
    from ..config import SPREAD_MAX_BYTES, SPREAD_MIN_BYTES, SPREAD_TARGET_BYTES

    size = estimated_size_bytes(df)
    if size is None or size < SPREAD_MIN_BYTES or size > SPREAD_MAX_BYTES:
        return df
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files:
        # approximate Spark's FilePartition bin-packing (each file is
        # charged openCostInBytes when packed into maxPartitionBytes
        # splits) — comparing the raw FILE count to the core count is
        # wrong for many tiny files, which pack ~32-to-a-split and
        # still scan at parallelism 2-3 (r7 review)
        try:
            max_pb = _parse_bytes_conf(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            )
        except Exception:
            max_pb = 128 << 20
        est_splits = min(n_files, -(-(size + 4 * (1 << 20) * n_files) // max_pb))
        if est_splits >= par:
            return df  # the scan alone already fills the cluster
    n = min(2 * par, max(8, -(-size // SPREAD_TARGET_BYTES)))
    return df.repartition(n)


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes_conf(v: str) -> int:
    """Spark byte-size conf string → bytes ('64m', '128mb', '134217728')."""
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIX:
        return int(s[:-1]) * _BYTE_SUFFIX[s[-1]]
    return int(s)


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated relation size in bytes (file sizes for
    parquet scans scaled by projection width, actual bytes for local
    relations, Long.MaxValue for opaque LogicalRDDs), or None when the
    lookup fails. THE single copy of the py4j dance — the return shape
    differs across py4j versions (plain int vs BigInt JavaObject), and
    both spread_small_scan and dedup._persist_if_large must treat it
    identically (r7 review)."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return None
