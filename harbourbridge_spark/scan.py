"""Scale-adaptive scan spreading (r16 optimization round).

Every fixture table is a SINGLE parquet row group, and a parquet scan
cannot be split below row-group granularity — so a scan stage chaining
heavy per-row work (a Python kernel, a token-explosion SQL pipeline)
runs as ONE task regardless of cluster size.  ``read_spread``
repartitions a freshly-read table across the cluster ONLY when the
file's row-group count is below ``defaultParallelism`` AND the file is
big enough for the exchange to pay for itself.

Apply it ONLY where the scan stage carries heavy downstream compute.
The r16 A/B showed the exchange is a net LOSS for cheap JVM-codegen
queries (gopher_quality_rules 0.42s plain vs 1.61s spread; q15 0.77
vs 1.53; q21 1.09 vs 1.95): the repartition shuffles the whole table
to parallelize work that one codegen task finishes faster than the
exchange costs — so the blanket application in queries.load() was
reverted, and call sites are the per-operator decision the
optimization guide §1.2 asks for (fix the distributed algorithm per
operator, not with one global knob).

The splittability probe is the parquet FOOTER row-group count (pure
pyarrow metadata read, ~1 ms), not ``df.rdd.getNumPartitions()``: the
RDD probe forces plan conversion on the driver (~50-80 ms warm, ~1 s
cold — real latency at 0.5 s query scale), and row groups are the true
lower bound on scan parallelism anyway.

Scale behaviour: at real data sizes a table is a directory of many
files (skipped — already parallel) or a file with many row groups, and
this is a no-op — the knob derives from the input, not from local[32]
(guide §2: scale-adaptive partitioning, never a constant tuned for
either local mode or the cluster).  Values are unaffected: the library
contains no partition-order-sensitive expression (grep-verified: no
monotonically_increasing_id / spark_partition_id / input_file_name),
float aggregation routes through order-independent DECIMAL sums, and
the oracle gate re-runs every entry at a second partitioning.
"""

from __future__ import annotations

import os
import re

# below this the single-task scan is cheaper than an exchange
# (region/nation/supplier-class dimension tables)
MIN_SPREAD_BYTES = 256 << 10


def read_cached(spark, path: str):
    """``spark.read.parquet(path)`` with the resolved relation
    (schema + file listing) memoized per SESSION per (path, mtime_ns,
    size) — the METADATA cache a real deployment gets from its
    catalog/metastore (guide §6: manifest-bearing table formats exist
    precisely to avoid re-listing/re-footer-reading per query).

    Measured driver cost of a cold ``spark.read.parquet`` on a local
    single-file fixture: ~150 ms (schema inference reads the footer
    through a Spark job) vs ~33 ms with an explicit schema and ~0 ms
    for a memoized DataFrame — and the bench's best-of-3 methodology
    re-resolves every input THREE times per entry without this.

    What this does NOT cache: data.  The returned DataFrame is an
    unexecuted plan; every action still scans the parquet bytes.  The
    mtime+size key means any rewrite of the file invalidates the
    entry (first read after a change pays full resolution), and the
    cache lives on the session object (the load() conf-guard
    convention), so it dies with the session and can never leak plans
    across sessions.  Use ONLY for immutable fixture inputs — store
    directories a run appends to mid-process go through ``read_store``
    (listing-keyed memo).

    The memo is keyed by ABSPATH with the (mtime_ns, size) token in
    the VALUE (r17, ADVICE r16): a rewritten path replaces its single
    entry instead of stranding the old one for the session lifetime."""
    try:
        st = os.stat(path)
        key = os.path.abspath(path)
        token = (st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path)
    cache = getattr(spark, "_hb_read_cache", None)
    if cache is None:
        cache = {}
        spark._hb_read_cache = cache
    hit = cache.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    df = spark.read.parquet(path)
    cache[key] = (token, df)
    return df


def read_store(spark, path: str):
    """``read_cached`` for STORE DIRECTORIES (probe paths reading a
    store another run may have appended to): the memo key is the
    directory's full recursive file listing — (relative path, size,
    mtime_ns) of EVERY file — rather than the directory stat.  An
    append or an overwrite by definition changes the listing (parquet
    writers emit fresh uniquely-named part files), so the key can
    never alias two store states, including the same-mtime-overwrite
    corner that kept store reads un-memoized in the first r16 pass.

    Same contract as read_cached otherwise: METADATA only (the
    returned DataFrame is an unexecuted plan; every action still
    scans the parquet bytes), memo on the session object, first read
    of any new store state pays full resolution.  The listing walk is
    pure os.scandir work (~10 us per file locally) — three orders of
    magnitude under the ~150 ms schema-inference job it replaces.

    The memo is keyed by ABSPATH with the listing tuple in the VALUE
    (r17, ADVICE r16): each store holds exactly ONE live entry — an
    append/overwrite replaces it instead of stranding the old
    (listing, plan) pair, so incremental probe loops that append per
    batch no longer grow the cache linearly in batches x files."""
    try:
        entries = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                entries.append((os.path.relpath(fp, path),
                                st.st_size, st.st_mtime_ns))
        if not entries:
            return spark.read.parquet(path)
        key = os.path.abspath(path)
        token = tuple(sorted(entries))
    except OSError:
        return spark.read.parquet(path)
    cache = getattr(spark, "_hb_read_cache", None)
    if cache is None:
        cache = {}
        spark._hb_read_cache = cache
    hit = cache.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    df = spark.read.parquet(path)
    cache[key] = (token, df)
    return df


_FOOTER_MEMO: dict = {}


def _row_groups(path: str) -> int | None:
    """Parquet footer row-group count — the true splittability bound.
    None when the footer can't be read (stay conservative: no spread).
    Successful reads are memoized per (path, mtime_ns, size): the
    footer is immutable for an unchanged file, and hot paths probe the
    same fixtures per bench run.  Failures are not: a transient read
    error must not pin "no spread" on the file for the process."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return None
    if key in _FOOTER_MEMO:
        return _FOOTER_MEMO[key]
    try:
        import pyarrow.parquet as pq
        groups = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:   # noqa: BLE001 — any footer trouble: no spread
        return None
    if len(_FOOTER_MEMO) < 4096:       # bound driver memory
        _FOOTER_MEMO[key] = groups
    return groups


_BYTE_SHIFTS = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
                "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50}


def _conf_bytes(spark, key: str, default: int) -> int:
    """A byte-size SQL conf ('128m', '4MB', '134217728b', '1048576')."""
    v = spark.conf.get(key, None)
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", v or "")
    if m is None or m.group(2).lower() not in _BYTE_SHIFTS:
        return default
    return int(m.group(1)) << _BYTE_SHIFTS[m.group(2).lower()]


def file_splits(spark, sizes) -> int:
    """The partition count Spark's file scan cuts splittable files of
    ``sizes`` bytes into (uncompressed text, parquet): the arithmetic
    of Spark's ``FilePartition.maxSplitBytes`` and
    ``getFilePartitions``, read from the session's confs, with no
    planning.  A split is at most ``min(maxPartitionBytes,
    max(openCostInBytes, total / minPartitionNum))`` bytes, where the
    total charges every file ``openCostInBytes`` extra and
    minPartitionNum defaults to ``defaultParallelism``; splits are
    packed largest first, each one charged its length plus the open
    cost.  So a file under the 4 MB open cost on a 4-core session is
    one split, one task."""
    max_bytes = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes",
                            128 << 20)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes",
                            4 << 20)
    min_parts = int(spark.conf.get("spark.sql.files.minPartitionNum", None)
                    or spark.conf.get("spark.sql.leafNodeDefaultParallelism",
                                      None)
                    or spark.sparkContext.defaultParallelism)
    sizes = list(sizes)
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_bytes, max(open_cost, total // max(min_parts, 1)))
    pieces = sorted((min(max_split, s - off) for s in sizes
                     for off in range(0, s, max_split)), reverse=True)
    parts, cur, open_files = 0, 0, 0
    for p in pieces:
        if cur + p > max_split and open_files:
            parts, cur, open_files = parts + 1, 0, 0
        cur += p + open_cost
        open_files += 1
    parts += 1 if open_files else 0
    cap = spark.conf.get("spark.sql.files.maxPartitionNum", None)
    return min(parts, int(cap)) if cap else parts


def text_sizes(path: str) -> list[int]:
    """The file sizes Spark's text scan of ``path`` reads: one file, or
    a directory of part files (hidden and ``_``-prefixed files are
    skipped, as Spark's listing skips them)."""
    if not os.path.isdir(path):
        return [os.path.getsize(path)]
    return [os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if not f.startswith((".", "_"))]


def scan_splits(df) -> int | None:
    """The scan parallelism of ``df``'s input, derived from its
    resolved file listing: the parquet FOOTER row-group count, bounded
    by the partitions Spark's byte-range arithmetic cuts the files
    into (``file_splits``; small files pack together, and a row group
    is read by one partition however many splits it spans).  It replaces the ``df.rdd.getNumPartitions()`` driver
    probe (VERDICT r16 item 1: the RDD probe forces full physical
    planning and plan→RDD conversion, measured 80-308 ms per call on
    this box vs ~30 ms for ``inputFiles()`` on a fresh plan and ~1 ms
    per memoized footer; at ~3 probes per synth-fed media entry that
    was real latency at 0.5-2 s query scale).

    Returns None when the provenance is unknown (no input files, or a
    non-file source) — callers treat unknown as "not split enough" and
    spread, because every caller feeds a heavy Python kernel where
    under-spreading serializes the stage and over-spreading costs one
    exchange of id-width rows."""
    try:
        files = df.inputFiles()
    except Exception:   # noqa: BLE001 — resolution failure: unknown
        return None
    if not files:
        return None
    groups, sizes = 0, []
    for uri in files:
        path = uri[7:] if uri.startswith("file://") else uri
        g = _row_groups(path)
        if g is None:
            return None
        groups += max(g, 1)
        sizes.append(os.path.getsize(path))
    return min(groups, file_splits(df.sparkSession, sizes))


def read_spread(spark, path: str):
    """``spark.read.parquet(path)``, repartitioned to
    ``defaultParallelism`` when the single-file input cannot split
    that wide on its own.  Directories (the at-scale layout) are
    always read plain."""
    df = read_cached(spark, path)
    if os.path.isdir(path):
        return df
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    if size < MIN_SPREAD_BYTES:
        return df
    par = spark.sparkContext.defaultParallelism
    groups = _row_groups(path)
    if groups is not None and groups < par:
        df = df.repartition(par)
    return df


def descriptor_frame(spark, rows: list, schema: str):
    """A DataFrame of work descriptors (spans, chunks, ranges) with ONE
    partition per row, so a per-descriptor kernel runs one task per
    descriptor.  ``createDataFrame(list)`` always yields
    ``defaultParallelism`` slices, and repartitioning that to
    ``len(rows)`` is a round-robin exchange: a shuffle-map job of its
    own ahead of the kernel.  Slicing the rows at parallelize time
    gives the same layout with no exchange."""
    rdd = spark.sparkContext.parallelize(rows, max(len(rows), 1))
    return spark.createDataFrame(rdd, schema)
