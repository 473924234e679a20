"""Spill-aware partition sizing: one width policy.

``spark.sql.shuffle.partitions`` is the one knob that silently breaks at
scale: the session default that works at sf0.1 gives multi-GB partitions
at 100 TB (spill, OOM), while a 100 TB-sized default gives thousands of
empty tasks on small inputs. AQE's coalescing fixes the too-many side at
runtime but cannot SPLIT a too-large partition of a non-skewed shuffle —
the initial number must be at least input_bytes / target_partition_bytes.

Every sized exchange in the engine asks :func:`width` for that number.
The caller names the KIND of stage it sizes and the bytes the stage
carries — ``expansion * dir_bytes(path)``, where ``expansion`` is the
stage's measured working-set / on-disk-input ratio — and hands the
result to a keyed ``repartition`` (or a drain's ``state_partitions``).
Nothing here mutates session conf, so one query's working set never
depends on whatever the session default happens to be (the r6 scale
ladder measured q_graph_kcore spilling 6.7 GB at 10x and 20.4 GB at 30x
purely because the wedge-dedup hash tables were squeezed into 32 static
partitions). The scan-skew case is sized from the scan's splits rather
than a footprint; :func:`fan_out_scan` is its one entry.
"""

from __future__ import annotations

import os

TARGET_BYTES = 128 * 1024 * 1024  # the shuffle-spill sweet spot
MIN_WIDTH = 8
MAX_WIDTH = 200_000  # ~24 TB of 128 MiB partitions per shuffle stage

# The JVM cores floor stops binding below this per-partition payload: a
# task carrying less than ~4 MiB is dominated by its own fixed cost, so
# spreading it wider than the data makes the stage SLOWER. This floor
# was a flat 2x cores ("the standard sizing rule" — slack for
# stragglers); r13 capped it by data density and let the byte term ramp
# the width past the core count as soon as the footprint justifies it.
# Measured at sf0.1/32 cores (paired in-session A/B, steal-clean
# trials): capping alone took q_dedup_prefix_filter 6.6 -> 4.6 s and
# q_dedup_ngram_jaccard 1.8 -> 1.3 s; cumulative with the 2x -> 1x step,
# q_dedup_prefix_filter 9.9 -> 4.6 s, q_dedup_ngram_jaccard 2.9 -> 1.3 s,
# q_dedup_bag_jaccard 3.5 -> 2.5 s, q_dedup_idf_weighted_jaccard 3.9 ->
# 2.5 s. At production scale the byte term dominates and the floor is
# dead code.
SMALL_PARTITION_BYTES = 4 * 1024 * 1024

# Streaming state stores. The stateful-shuffle width is ALSO the number
# of state-store instances (x2-4 per stateful operator: a symmetric hash
# join keeps 4 stores per partition), and every instance pays fixed
# per-micro-batch commit overhead regardless of how little state it
# holds. The r12 diagnosis measured a 32-partition (128-instance)
# stream-stream interval join spending ~95% of its wall in state commits
# over a 40k-row state (sum commitTimeMs ~500 s, wall ~9 s); the same
# drain at 8 partitions committed in 8.5 s total and ran in 3.7 s. So,
# unlike batch exchanges, there is NO cores floor: a bounded backfill
# with tiny state wants FEW instances, while at production scale the
# byte-derived count exceeds any cluster's core count long before
# per-partition state reaches the target. State is taken as
# STATE_EXPANSION x the compressed input bytes. The width is frozen into
# a checkpoint at first start; that caveat doesn't bind availableNow
# drains (ephemeral checkpoints) — a continuous 24/7 deployment should
# size from projected PEAK state and keep that number for the
# checkpoint's life.
STATE_TARGET_BYTES = 64 * 1024 * 1024
STATE_EXPANSION = 4
# Operator-SHAPE floors, binding only at bounded-backfill scale. r13
# width sweep at sf0.1, warm min-of-3 wall / per-drain commitTimeMs sum:
# - symmetric-hash JOIN (4 stores per partition, and the watermark-
#   finalize batch re-commits every instance): width 8 = 2.5 s / 6.4 s
#   of commits; width 2 = 2.2 s / 0.65 s -> floor 2.
# - pure-JVM stateful aggregate (1 store per partition): width 8 =
#   1.3 s / 0.9 s; width 4 = 1.0 s / 0.2 s; width 2 no better -> floor 4.
# - PYTHON-stateful ops (applyInPandasWithState): compute is the per-key
#   Python fold, not commits — width 2 is ~40% SLOWER than width 8
#   (3.0 s vs 2.2 s) because it serializes the fold -> floor 8.
STATE_FLOORS = {"state_join": 2, "state_agg": 4, "state_python": 8}


def width(spark, kind: str, nbytes: int,
          target_bytes: int | None = None) -> int:
    """Partition count for a stage of ``kind`` carrying ``nbytes``.

    ceil(nbytes / target) — one partition per target's worth of bytes —
    raised to the kind's floor and capped at MAX_WIDTH. AQE then
    coalesces downward at runtime; it never needs to split upward
    because the starting count is already fine-grained enough.
    ``target_bytes`` defaults to TARGET_BYTES (STATE_TARGET_BYTES of
    state for the state kinds).

    Kinds and their floors:

    - ``jvm_shuffle``: one wave of core-count tasks, capped by data
      density (never below ~SMALL_PARTITION_BYTES per task), minimum
      MIN_WIDTH.
    - ``python_stage``: a stage whose per-row/per-group cost is PYTHON
      (grouped-map applyInPandas and friends) keeps the FULL cores
      floor, minimum MIN_WIDTH. The byte-based machinery misprices
      these stages twice: the density cap assumes a task under ~4 MiB
      is fixed-cost-dominated — false when every row crosses the Arrow
      boundary and every group is a Python call — and AQE's coalescing
      is also byte-based, so a KB-scale grouped-map shuffle coalesces to
      ONE post-shuffle partition and serializes every group's Python
      call in a single task (r13 measured q_group_zscore: a 1-task
      stage, 3.9 s wall / 0.2 s JVM cpu — the rest is one Python worker
      grinding 1500 groups).
    - ``state_join`` / ``state_agg`` / ``state_python``: a streaming
      state store (``nbytes`` is the input footprint, scaled by
      STATE_EXPANSION inside), no cores floor, the STATE_FLOORS shape
      floor.
    """
    if nbytes < 0:
        raise ValueError("nbytes must be >= 0")
    if kind in STATE_FLOORS:
        nbytes *= STATE_EXPANSION
        floor = STATE_FLOORS[kind]
        target_bytes = target_bytes or STATE_TARGET_BYTES
    else:
        cores = spark.sparkContext.defaultParallelism
        if kind == "jvm_shuffle":
            floor = min(cores, -(-nbytes // SMALL_PARTITION_BYTES))
        elif kind == "python_stage":
            floor = cores
        else:
            raise ValueError(f"unknown width kind: {kind!r}")
        floor = max(floor, MIN_WIDTH)
        target_bytes = target_bytes or TARGET_BYTES
    need = -(-nbytes // target_bytes)  # ceil div
    return int(min(max(need, floor), MAX_WIDTH))


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path`` (a file is its own size).

    For parquet this is the compressed on-disk footprint — the right
    input to shuffle sizing when the shuffle carries roughly the scanned
    columns; multiply by an expansion factor for wide decompression.
    """
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


def _parse_size_bytes(v: str) -> int:
    """'134217728' / '128m' / '128MB' -> bytes (Spark conf size forms)."""
    s = v.strip().lower().removesuffix("b")
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def scan_fan_out_width(df) -> int | None:
    """Width to spread a CPU-heavy per-row pass over, or None when the
    source scan already parallelizes.

    Guide §2.5 input-skew case: a fixture-scale parquet arrives as ONE
    input split (file bytes < maxPartitionBytes), so everything until
    the first exchange — tokenize/shingle/span/hash passes, the most
    CPU-expensive per-row work in the text and dedup families — runs on
    a single core (r12 profiles: 1-task stages of 2-4 s inside 3-6 s
    queries). At production scale the scan has >> cores splits and this
    returns None, so no extra exchange of the text payload is ever
    introduced; when the fan-out does fire, the shuffled bytes are at
    most cores x maxPartitionBytes.

    Width: one wave of core-count tasks, stretched toward 2x cores only
    when the footprint carries at least ~1 MiB per extra partition. The
    r12 flat 2x-cores width over-partitioned KB-scale fixtures — 64
    near-empty tasks at 32 cores made q_dedup_ngram_jaccard FASTER at 8
    cores than 32 (PERF_r12 scaling ratio 0.65); per-task fixed cost
    dominates until partitions carry real data, and the 2x balance
    cushion only pays once they do."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    mpb = _parse_size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    splits = 0
    total_bytes = 0
    for f in files:
        p = f.removeprefix("file:")
        if not os.path.exists(p):
            return None  # non-local source: trust its split planning
        sz = os.path.getsize(p)
        total_bytes += sz
        splits += max(1, -(-sz // mpb))
    if splits >= cores:
        return None
    return max(cores, min(2 * cores, -(-total_bytes // (1 << 20))))


def fan_out_scan(df, key: str):
    """``df`` hash-repartitioned on ``key`` to the fan-out width when the
    backing scan undershoots the cluster's parallelism; ``df`` unchanged
    otherwise (see ``scan_fan_out_width``). Apply BEFORE CPU-heavy
    per-row expressions so they run post-exchange."""
    w = scan_fan_out_width(df)
    if w is None:
        return df
    from pyspark.sql import functions as F
    return df.repartition(w, F.col(key))
