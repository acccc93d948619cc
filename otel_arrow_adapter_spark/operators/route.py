"""R1 + S3/S7: signal-type routing into star-schema sinks.

The reference fans each decoded payload to a per-type store
(/root/reference/pkg/otel/logs/otlp/related_data.go:52) and writes captures
as compressed line files (collector fileexporter). Spark-first form:

- ``label_sinks``: one column expression assigns every row its sink —
  the router is a projection, not a branch.
- ``route_signals``: per-sink *logical* views (filter + typed projection);
  Catalyst prunes the shared upstream per view.
- ``write_routed``: ONE physical pass — sort-within-partitions then a
  single dynamic-partition write on ``sink``. Four independent writes
  would recompute the upstream four times and quadruple the scan at
  100 TB; one partitioned write scans once. Per-sink projections are
  recovered on read (``read_sinks``), where Parquet column pruning makes
  the unified wide schema free (absent columns are all-null -> elided).

Sort-before-write is the Spark analog of the reference's
sort-for-compression optimizer (SURVEY.md §2.4):
  logs   (res_id, scope_id, conv_id, turn_idx)  ~ logs/arrow/optimizer.go:137-158
  traces (res_id, scope_id, ts, span)           ~ traces/arrow/optimizer.go:129-163
  metrics (res_id, scope_id, name)              ~ metrics/arrow/optimizer.go:119-167

Every routed row keeps verbatim ``text`` + (conv_id, turn_idx): round-trip
(per-turn text equality, routed-row set equality) is checked against the
union of sinks.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SINKS = ("logs", "metrics", "traces", "quarantine")

_COMMON = ["conv_id", "turn_idx", "role", "tool", "ts", "text", "res_id", "scope_id"]

_SINK_FIELDS = {
    "logs": ["log_ts_us", "severity_number", "severity_text", "body", "code", "retry"],
    "metrics": ["metric_name", "metric_value", "metric_unit"],
    "traces": ["span_hex", "parent_hex", "dur_ms", "span_id", "parent_span_id"],
    "quarantine": ["error"],
}

# O1-O3 sort-for-compression strategy plurality: the reference ships 6 span
# sorters and 2 metric sorters and records measured ratios in comments
# (/root/reference/pkg/otel/traces/arrow/optimizer.go:60-67,
# /root/reference/pkg/otel/metrics/arrow/config.go:92-101). Five measured
# strategies here; bench.py writes the output-bytes-per-strategy table into
# BENCH/BASELINE.md (the reference's measured-ratio discipline).
SORT_STRATEGIES = {
    # shared-native resource-first: ONE key list for every sink, so
    # sink_sort_exprs emits bare columns — zero CASE expressions. Measured
    # on the 17.8M-row write (min-of-2, 32 cores): 19.6s vs 26.5s for the
    # per-sink CASE strategy at equal-or-smaller output bytes — the CASE
    # string expression in the sort comparator was the round-2 write-path
    # regression. This is the shipped default.
    "shared_native": {
        s: ["res_id", "scope_id", "conv_id", "turn_idx"]
        for s in ("logs", "metrics", "traces", "quarantine")
    },
    # resource-first with a per-sink 3rd key: the reference defaults
    # (res, scope, <signal key>, ...). Shared positions compile to NATIVE
    # column sorts; the divergent position becomes one string CASE (see
    # sink_sort_exprs) — measured ~7s slower on 17.8M rows, kept for the
    # bytes table.
    "default": {
        "logs": ["res_id", "scope_id", "severity_text", "conv_id", "turn_idx"],
        "metrics": ["res_id", "scope_id", "metric_name", "conv_id", "turn_idx"],
        "traces": ["res_id", "scope_id", "span_hex", "conv_id", "turn_idx"],
        "quarantine": ["res_id", "scope_id", "error", "conv_id", "turn_idx"],
    },
    # name/time-first: the alternative metric sorter (type, name, res, scope)
    # and the startTimestamp-first span sorter
    "name_first": {
        "logs": ["severity_text", "res_id", "conv_id", "turn_idx"],
        "metrics": ["metric_name", "metric_unit", "res_id", "conv_id", "turn_idx"],
        "traces": ["ts", "span_hex"],
        "quarantine": ["conv_id", "turn_idx"],
    },
    # natural arrival order — the do-nothing baseline every measured-ratio
    # comparison needs (the reference's *ByNothing sorters)
    "conv_first": {
        "logs": ["conv_id", "turn_idx"],
        "metrics": ["conv_id", "turn_idx"],
        "traces": ["conv_id", "turn_idx"],
        "quarantine": ["conv_id", "turn_idx"],
    },
    # span-strategy plurality (the reference ships SIX span sorters,
    # /root/reference/pkg/otel/traces/arrow/optimizer.go:60-67): these two
    # vary ONLY the traces keys vs `default` so the measured bytes isolate
    # the span-sorter choice — traceID-first (the conversation-parent is
    # the trace grouping here) and startTimestamp-first families.
    #
    # DECISION (r5, on the r4 measured table): span_trace_first is the
    # bytes-optimal strategy — 373.7 MB vs default 384.3 MB vs
    # shared_native 388.4 MB on the same 17.8M-row verbatim write — but it
    # keeps the per-sink CASE comparator, which the same rig measured at
    # 26.5s vs 19.6s for shared_native's bare-column sort (+35% write
    # wall). The pipeline stays throughput-first: shared_native remains
    # the shipped default (a 3.8% byte premium for 26% faster writes);
    # byte-dominated deployments (cold archival, egress-priced object
    # stores) should pass sort_strategy="span_trace_first" explicitly.
    "span_trace_first": {
        "logs": ["res_id", "scope_id", "severity_text", "conv_id", "turn_idx"],
        "metrics": ["res_id", "scope_id", "metric_name", "conv_id", "turn_idx"],
        "traces": ["parent_hex", "span_hex", "conv_id", "turn_idx"],
        "quarantine": ["res_id", "scope_id", "error", "conv_id", "turn_idx"],
    },
    "span_start_ts_first": {
        "logs": ["res_id", "scope_id", "severity_text", "conv_id", "turn_idx"],
        "metrics": ["res_id", "scope_id", "metric_name", "conv_id", "turn_idx"],
        "traces": ["ts", "res_id", "span_hex", "turn_idx"],
        "quarantine": ["res_id", "scope_id", "error", "conv_id", "turn_idx"],
    },
}


def sink_sort_exprs(df: DataFrame, strategy: dict[str, list[str]]) -> list[Column]:
    """One unified sortWithinPartitions key list that applies each sink's
    OWN sort inside the single dynamic-partition write: position i is that
    sink's i-th key. Cost discipline: when every sink names the SAME column
    at position i the sort key is the native column (no expression at all);
    a divergent position becomes a CASE, cast to a shared native type when
    the branches agree on type, and only zero-padded strings for genuinely
    mixed numeric/string positions (string keys per row were measured ~2x
    on the 17.8M-row write). A per-sink branch would mean per-sink passes —
    this keeps one pass."""
    types = dict(df.dtypes)
    _NUM = ("tinyint", "smallint", "int", "bigint")

    exprs: list[Column] = [F.col("sink")]
    for i in range(max(len(v) for v in strategy.values())):
        at_i = {s: keys[i] for s, keys in strategy.items() if i < len(keys)}
        names = set(at_i.values())
        if len(names) == 1:
            exprs.append(F.col(names.pop()))
            continue
        arm_types = {types.get(n, "string") for n in names}
        if len(arm_types) == 1:
            cast_to = arm_types.pop()
            conv = lambda n: F.col(n)  # noqa: E731 — same type, no cast
        elif arm_types <= set(_NUM):
            conv = lambda n: F.col(n).cast("bigint")  # noqa: E731
        else:
            def conv(n):  # mixed types: order-preserving string form
                c = F.col(n).cast("string")
                return F.lpad(c, 20, "0") if types.get(n) in _NUM else c
        e = None
        for sink, key in at_i.items():
            cond = F.col("sink") == sink
            e = F.when(cond, conv(key)) if e is None else e.when(cond, conv(key))
        exprs.append(e)
    return exprs


def sink_label() -> Column:
    """Row -> sink name. Unknown-but-present tools (tool_known=false from
    enrich) quarantine; rows with no tool stay in their signal sink."""
    return F.when(
        (F.col("signal_type") == "quarantine")
        | F.coalesce(F.col("tool_known") == False, F.lit(False)),  # noqa: E712
        F.lit("quarantine"),
    ).otherwise(F.concat(F.col("signal_type"), F.lit("s")))


def label_sinks(parsed: DataFrame) -> DataFrame:
    """Add ``sink`` + ``error`` columns (single projection, no branch)."""
    df = parsed
    if "tool_known" not in df.columns:
        df = df.withColumn("tool_known", F.lit(None).cast("boolean"))
    df = df.withColumn("sink", sink_label())
    return df.withColumn(
        "error",
        F.when(
            F.col("sink") == "quarantine",
            F.when(F.col("signal_type") == "quarantine", F.lit("unparseable_text")).otherwise(
                F.lit("unknown_tool")
            ),
        ),
    )


def _trace_ids(df: DataFrame) -> DataFrame:
    out = df
    if "span_id" not in df.columns:
        out = out.withColumn("span_id", F.unhex("span_hex")).withColumn(
            "parent_span_id", F.unhex("parent_hex")
        )
    return out


def route_signals(parsed: DataFrame) -> dict[str, DataFrame]:
    """parsed(+ids, +enrich) -> {sink: typed logical view}."""
    labeled = _trace_ids(label_sinks(parsed))
    cols = set(labeled.columns)
    enrich_cols = [c for c in ("service_name", "resource_attrs") if c in cols]
    out = {}
    for name in SINKS:
        fields = _COMMON + (enrich_cols if name != "quarantine" else []) + _SINK_FIELDS[name]
        out[name] = labeled.where(F.col("sink") == name).select(*fields)
    return out


# columns derived (not stored): body struct ≡ f(msg), span ids ≡ unhex(hex),
# signal_type/tool_known ≡ f(sink). Parquet's nested-struct writer is ~3x
# slower than flat columns for zero size benefit — measured 118s vs 39s for
# an 18M-row write — so the physical schema is flat and read_sinks
# re-derives the structs as logical columns.
_DERIVED = ("body", "signal_type", "tool_known", "resource_attrs", "span_id", "parent_span_id")


def rebuild_text() -> Column:
    """Regenerate the verbatim payload from the typed columns — the
    reference's decode model (structured record -> payload, not a stored
    copy). Null whenever any required field is null (concat
    null-propagates), so out-of-grammar rows fall back to the stored raw
    text. Optional fields re-appear iff their column is non-null (P6:
    absent ⇔ null)."""
    sink = F.col("sink")
    log = F.concat(
        F.lit("ts_us="),
        F.col("log_ts_us").cast("string"),
        F.lit(" level="),
        F.col("severity_text"),
        F.lit(' msg="'),
        F.col("msg"),
        F.lit('"'),
        F.lit(" code="),
        F.col("code").cast("string"),
        F.coalesce(F.concat(F.lit(" retry="), F.col("retry").cast("string")), F.lit("")),
    )
    metric = F.concat(
        F.lit("name="),
        F.col("metric_name"),
        F.lit(" value="),
        F.col("metric_value").cast("string"),
        F.coalesce(F.concat(F.lit(" unit="), F.col("metric_unit")), F.lit("")),
    )
    trace = F.concat(
        F.lit("span="),
        F.col("span_hex"),
        F.lit(" parent="),
        F.col("parent_hex"),
        F.lit(" dur_ms="),
        F.col("dur_ms").cast("string"),
    )
    return (
        F.when(sink == "logs", log)
        .when(sink == "metrics", metric)
        .when(sink == "traces", trace)
    )


def suppress_rebuildable_text(df: DataFrame) -> DataFrame:
    """Store the raw payload ONLY where the typed columns can't regenerate
    it byte-exactly (quarantine rows, out-of-grammar values) — the payload-
    level form of non-default suppression. Parquet nulls are ~free, so the
    routed table stops paying for a verbatim copy of every payload while
    the per-turn text-equality contract stays exact for ANY input (the
    write-time comparison is the guard, not a grammar assumption)."""
    return df.withColumn(
        "text", F.when(~rebuild_text().eqNullSafe(F.col("text")), F.col("text"))
    )


def restore_text(df: DataFrame) -> DataFrame:
    """Read-side inverse: stored raw text wins, else regenerate."""
    return df.withColumn("text", F.coalesce(F.col("text"), rebuild_text()))


def write_routed(
    labeled: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    subdir: str = "routed",
    sort_strategy: str = "shared_native",
    extra_partition_cols: tuple[str, ...] = (),
    suppress_text: bool = False,
    codec: str = "zstd",
    bloom_cols: dict[str, int] | None = None,
) -> None:
    """One sorted dynamic-partition write for all sinks (S3 analog:
    IPC+ZSTD+dict-deltas -> Parquet dictionary pages + zstd). Each sink
    gets its own sort keys (``SORT_STRATEGIES[sort_strategy]``) inside the
    single pass. ``extra_partition_cols`` prepend layout partitions (the
    resumable pipeline passes ``bucket``); partitionOverwriteMode=dynamic
    so a resume overwrites ONLY the partitions it writes. Iceberg is the
    production target (partitioned bucket(conv_id)/days(ts) inside each
    sink); the sandbox image lacks the runtime jar, so partitioned parquet
    carries the same layout semantics.

    ``suppress_text`` opts into payload-level non-default suppression
    (store raw text only where the typed columns can't rebuild it) — a
    measured trade, both configurations in BENCH/BASELINE.md. With the
    shared_native sort keys the guard's compute is fully paid back by the
    ~35%% byte reduction (19.66s off vs 19.61s on, 17.8M rows), so the
    end-to-end pipeline (run_pipeline) defaults it ON; at the operator
    level it stays opt-in so a caller keeping verbatim payloads gets the
    bit-identical copy.

    ``bloom_cols`` ({column: expected_ndv}) opts into Parquet bloom
    filters on point-lookup keys (conv_id — the quarantine-replay /
    single-conversation fetch path): at 10^12 turns a conv_id probe
    prunes row groups the min/max stats can't (conv_ids are
    hash-distributed, so every row group spans the full value range and
    zone maps are useless — exactly the case bloom filters exist for).
    OPT-IN with an explicit per-column NDV because Parquet's default
    expected-NDV is 10^6 — ~1 MB of filter PER COLUMN CHUNK regardless
    of actual cardinality (measured: a 3 KB file became 1 MB); size it
    to the real per-file distinct count (~rows_per_file/turns_per_conv).
    parquet-mr correctly OMITS the filter for chunks whose pages are all
    dictionary-encoded (the dictionary already answers membership
    exactly — measured: no bytes added at test SF's 15 convs/file), so
    the option only costs bytes once per-file cardinality defeats the
    dictionary — exactly when point lookups need it."""
    slim = labeled.drop(*[c for c in _DERIVED if c in labeled.columns])
    if suppress_text:
        slim = suppress_rebuildable_text(slim)
    sort_cols = [F.col(c) for c in extra_partition_cols] + sink_sort_exprs(
        slim, SORT_STRATEGIES[sort_strategy]
    )
    writer = (
        slim.sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .option("compression", codec)
        .option("partitionOverwriteMode", "dynamic")
    )
    for c, ndv in (bloom_cols or {}).items():
        if c in slim.columns:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
        else:
            # a typo'd name or a column removed upstream (suppress_text /
            # _DERIVED drop) must not lose its requested filter silently
            # (ADVICE r5)
            import warnings

            warnings.warn(
                f"write_routed: bloom_cols entry {c!r} is not in the written "
                f"schema {sorted(slim.columns)} — no bloom filter written",
                stacklevel=2,
            )
    (
        writer.partitionBy(*extra_partition_cols, "sink")
        .parquet(f"{out_dir}/{subdir}")
    )


_HEX = "0123456789abcdef"


def weighted_split(
    df: DataFrame,
    weights: dict[str, int],
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """R2: deterministic weighted traffic splitting (Envoy-style router,
    /root/reference/collector/processor/experimentprocessor/router.go).

    ``weights`` maps exporter-set name -> sixteenths of traffic (must sum
    to 16). The bucket is the first hex digit of md5(key) — deterministic
    (replayable routing, unlike the reference's RNG), uniform, and
    engine-portable (DuckDB md5 == Spark md5, so the split is
    oracle-checkable). Adds an ``exporter`` column; no shuffle."""
    if sum(weights.values()) != 16:
        raise ValueError("weights must sum to 16 (sixteenths of traffic)")
    digit = F.substring(F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])), 1, 1)
    names = list(weights)
    cum = 0
    expr = None
    for name in names[:-1]:
        cum += weights[name]
        cond = digit < F.lit(_HEX[cum])
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("exporter", expr)


def read_sinks(spark: SparkSession, out_dir: str, subdir: str = "routed") -> dict[str, DataFrame]:
    """Read the unified routed table back as per-sink typed views,
    re-deriving the logical-only columns (body struct, binary span ids)."""
    from .parse import make_body

    routed = restore_text(spark.read.parquet(f"{out_dir}/{subdir}"))
    routed = routed.withColumn("body", make_body(F.col("msg"), "str"))
    routed = _trace_ids(routed)
    cols = set(routed.columns)
    enrich_cols = [c for c in ("service_name", "resource_attrs") if c in cols]
    out = {}
    for name in SINKS:
        fields = _COMMON + (enrich_cols if name != "quarantine" else []) + _SINK_FIELDS[name]
        fields = [f for f in fields if f in cols]
        out[name] = routed.where(F.col("sink") == name).select(*fields)
    return out


def compact_routed(
    spark: SparkSession,
    out_dir: str,
    subdir: str = "routed",
    target_mb: int = 128,
    sort_strategy: str = "shared_native",
) -> dict[str, tuple[int, int]]:
    """Small-files compaction — the Iceberg ``rewrite_data_files`` analog.

    Streaming micro-batches and resumable dynamic-partition writes fragment
    each sink into many small files; at 100 TB that tanks scan throughput
    (per-file open cost) and wrecks row-group compression. Rewrite each
    sink partition into ceil(bytes / target) zstd files, restoring the
    sink's sort-for-compression order inside each output file. The driver
    loop is over the 4 sinks; every rewrite is a distributed job. Returns
    {sink: (files_before, files_after)} so callers can ledger the win.
    Production target is Iceberg's own metadata-driven rewrite; this
    file-level form carries the same semantics for parquet dirs. Files are
    listed and sized through the Hadoop FileSystem resolved from
    ``out_dir``, so a ``file://`` or ``hdfs://`` URI compacts the same sinks
    a bare path does. A bucket-partitioned table (``run_pipeline`` with
    ``n_buckets``, laid out bucket=*/sink=*) raises ``ValueError``."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(out_dir).getFileSystem(spark._jsc.hadoopConfiguration())

    def parquet_sizes(d: str) -> list[int]:
        it = fs.listFiles(hpath(d), True)
        sizes = []
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                sizes.append(st.getLen())
        return sizes

    base = f"{out_dir}/{subdir}"
    if fs.globStatus(hpath(f"{base}/bucket=*")):
        raise ValueError(
            f"{base} is bucket-partitioned (bucket=*/sink=*); compact_routed "
            "rewrites sink=* partitions only"
        )
    result: dict[str, tuple[int, int]] = {}
    for sink in SINKS:
        d = f"{base}/sink={sink}"
        if not fs.isDirectory(hpath(d)):
            continue
        files = parquet_sizes(d)
        n = max(1, math.ceil(sum(files) / (target_mb * 1024 * 1024)))
        df = spark.read.parquet(d)
        keys = [c for c in SORT_STRATEGIES[sort_strategy][sink] if c in df.columns]
        dest = f"{out_dir}/{subdir}_compacted/sink={sink}"
        (
            df.repartition(n)
            .sortWithinPartitions(*keys)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(dest)
        )
        after = len(parquet_sizes(dest))
        result[sink] = (len(files), after)
    return result
