"""The four workloads: input generation, the reference, one timed
operation, its check, and the layered trace pass.

A workload instance lives for one benchmark process. ``prepare`` makes
the seed's input and its reference (it may run several times: the set-up
time is a median); ``run`` is the timed operation; ``check`` returns the
number of mismatched rows; ``observe`` reads exact counts from the
operation's output before ``cleanup`` deletes it; ``layers`` runs the
traced per-layer decomposition once.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import docgen
import reference
from harness import Workdir, dir_bytes, nproc
from tracing import Tracer, prefix_self_times

N_TOOLS = 45  # catalog size of jobs/run_pipeline_job.py


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _timed_prefix(tracer: Tracer, name: str, action) -> float:
    with tracer.span(name) as i:
        action()
    return tracer.duration(i)


def _key_digest(df: DataFrame):
    """Spark form of ``reference.key_digest``: sum of the first 15 hex
    digits of md5(conv_id|turn_idx|text)."""
    h = F.md5(F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"), "text"))
    return F.sum(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)"))


def sink_digest(view: DataFrame, sink: str) -> DataFrame:
    """One row per sink view: rows, an order-insensitive digest of every
    column, and the (conv_id, turn_idx, text) digest."""
    return view.agg(
        F.lit(sink).alias("sink"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*view.columns).cast("decimal(38,0)")).alias("columns"),
        _key_digest(view).alias("keys"),
    )


def _read_sink_spans(spark, tracer: Tracer, table: str) -> dict[str, float]:
    """``read_sinks`` over ``table`` with one span per sink view's digest."""
    from otel_arrow_adapter_spark.operators.route import read_sinks

    return {
        f"route.read_sinks_s.{sink}": _timed_prefix(
            tracer, f"route.read_sinks.{sink}", lambda v=view, s=sink: sink_digest(v, s).collect()
        )
        for sink, view in read_sinks(spark, table).items()
    }


def write_transcripts(spark, path: str, seed: int, turns: int) -> None:
    """The seed's ``synthesize_transcripts`` output, cut after the first
    whole conversation (in conv_id order) that brings it to ``turns``.
    Uncut, the draw of hot conversations moves the input size by several
    percent from seed to seed."""
    from otel_arrow_adapter_spark.datagen import synthesize_transcripts

    # 2% of conversations are hot with 1000 turns: 44.5 turns on average
    df = synthesize_transcripts(spark, n_convs=int(turns / 44.5 * 1.5) + 100, seed=seed)
    total = 0
    for conv_id, n in sorted(tuple(r) for r in df.groupBy("conv_id").count().collect()):
        total += n
        if total >= turns:
            break
    else:
        raise RuntimeError(f"seed {seed} gave only {total} turns, {turns} asked")
    df.where(F.col("conv_id") <= conv_id).write.mode("overwrite").parquet(path)


class Pipeline:
    """``ingest`` and ``ingest_bucketed``: one ``run_pipeline`` call over
    the seed's transcripts, checked against per-sink DuckDB counts."""

    def __init__(self, name: str, work: Workdir, turns: int, **pipeline_kwargs):
        self.name = name
        self.work = work
        self.turns = turns
        self.kwargs = pipeline_kwargs
        self.input = work.path("input")
        self.out = work.path("out")
        self.rows = 0
        self.ref: dict[str, tuple[int, int]] = {}
        self.out_bytes = 0
        self.observed: dict[str, int] = {}

    def prepare(self, spark, seed: int) -> None:
        write_transcripts(spark, self.input, seed, self.turns)
        self.ref = reference.sink_counts(self.input, N_TOOLS, self.work.path("tmp"))
        self.rows = sum(n for n, _ in self.ref.values())

    def run(self, spark, i: int, tracer: Tracer | None = None):
        from otel_arrow_adapter_spark.datagen import synthesize_tool_catalog
        from otel_arrow_adapter_spark.plans import run_pipeline

        with _span(tracer, "plans.pipeline"):
            counts = run_pipeline(
                spark,
                spark.read.parquet(self.input),
                synthesize_tool_catalog(spark, n_tools=N_TOOLS),
                self.out,
                run_id=f"op-{i}",
                resume=False,
                **self.kwargs,
            )
            return {r["sink"]: (r["n_rows"], r["n_convs"]) for r in counts.collect()}

    def check(self, spark, got) -> int:
        self.out_bytes = dir_bytes(os.path.join(self.out, "routed"))[1]
        return sum(
            abs(got.get(s, (0, 0))[0] - n) + abs(got.get(s, (0, 0))[1] - c)
            for s, (n, c) in self.ref.items()
        ) + sum(n for s, (n, _) in got.items() if s not in self.ref)

    def bytes_per_row(self) -> float:
        return self.out_bytes / self.rows

    def observe(self, spark) -> None:
        """Exact counts from the routed output of the last operation."""
        import duckdb

        routed = os.path.join(self.out, "routed")
        files, size = dir_bytes(routed)
        with duckdb.connect() as con:
            unparseable, unknown, stored, total = con.execute(
                f"""SELECT count(*) FILTER (WHERE error = 'unparseable_text'),
                           count(*) FILTER (WHERE error = 'unknown_tool'),
                           count(text), count(*)
                    FROM read_parquet('{routed}/**/*.parquet', hive_partitioning = true)"""
            ).fetchone()
        ledger = os.path.join(self.out, "_ledger", "ledger.jsonl")
        records = 0
        if os.path.exists(ledger):
            with open(ledger) as f:
                records = sum(1 for line in f if line.strip())
        self.observed = {
            "parse.quarantine_rows": unparseable,
            "enrich.unknown_tool_rows": unknown,
            "route.text_stored_rows": stored,
            "route.restored_rows": total - stored,
            "route.files_written": files,
            "route.bytes_written": size,
            "ledger.records": records,
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def layers(self, spark, tracer: Tracer) -> dict[str, float]:
        """Cumulative noop-sink prefixes of the pipeline's plan, then the
        real write and the passes after it. Each prefix is one span (and
        job group); a layer's self time is its prefix's time minus the
        previous prefix's."""
        from otel_arrow_adapter_spark.datagen import synthesize_tool_catalog
        from otel_arrow_adapter_spark.operators.enrich import enrich_with_catalog
        from otel_arrow_adapter_spark.operators.normalize import assign_surrogate_ids
        from otel_arrow_adapter_spark.operators.parse import parse_turns
        from otel_arrow_adapter_spark.operators.route import (
            label_sinks,
            suppress_rebuildable_text,
            write_routed,
        )
        from otel_arrow_adapter_spark.plans.pipeline import counts_from_routed

        k = self.kwargs
        salt, n_buckets = k.get("salt_buckets", 0), k.get("n_buckets", 0)
        scan = spark.read.parquet(self.input)
        salted = scan
        if salt > 0:  # the salted repartition of plans.pipeline.build_labeled
            salted = scan.repartition(
                F.col("conv_id"), F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt))
            )
        parsed = parse_turns(salted)
        ids = assign_surrogate_ids(parsed, mode=k["id_mode"])
        enriched = enrich_with_catalog(ids, synthesize_tool_catalog(spark, n_tools=N_TOOLS))
        labeled = label_sinks(enriched)
        extra: tuple[str, ...] = ()
        if n_buckets > 0:
            labeled = labeled.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
            extra = ("bucket",)
        chain = [("sources.scan", scan)]
        if salt > 0:
            chain.append(("route.salt", salted))
        chain += [
            ("operators.parse", parsed),
            ("operators.normalize", ids),
            ("operators.enrich", enriched),
            ("route.label", labeled),
        ]
        if k["suppress_text"]:
            chain.append(("route.suppress", suppress_rebuildable_text(labeled)))

        # two passes, keeping each prefix's faster time: the first pass
        # still compiles code the second reuses
        best: dict[str, float] = {}
        for _ in range(2):
            for name, df in chain:
                t = _timed_prefix(tracer, name, lambda d=df: _noop(d))
                best[name] = min(t, best.get(name, t))
        prefixes = [(name, best[name]) for name, _ in chain]
        shutil.rmtree(self.out, ignore_errors=True)
        t_write = _timed_prefix(
            tracer,
            "route.write",
            lambda: write_routed(
                labeled, self.out, extra_partition_cols=extra, suppress_text=k["suppress_text"]
            ),
        )
        reads = _read_sink_spans(spark, tracer, self.out)
        routed = os.path.join(self.out, "routed")
        t_stats = 0.0
        if n_buckets > 0:
            t_stats = _timed_prefix(
                tracer,
                "plans.bucket_stats",
                lambda: spark.read.parquet(routed).groupBy("bucket", "sink").count().collect(),
            )
        t_counts = _timed_prefix(
            tracer,
            "plans.counts",
            lambda: counts_from_routed(spark.read.parquet(routed), "layers")
            .write.mode("overwrite")
            .parquet(os.path.join(self.out, "sink_counts")),
        )
        self.cleanup()

        self._prev = {name: prefixes[j - 1][0] if j else None for j, (name, _) in enumerate(prefixes)}
        self_s = prefix_self_times(prefixes)
        return {
            "sources.scan_s": self_s["sources.scan"],
            "route.salt_s": self_s.get("route.salt", 0.0),
            "parse.self_s": self_s["operators.parse"],
            "normalize.self_s": self_s["operators.normalize"],
            "enrich.self_s": self_s["operators.enrich"],
            "route.label_self_s": self_s["route.label"],
            "route.suppress_self_s": self_s.get("route.suppress", 0.0),
            "route.sort_write_s": t_write - prefixes[-1][1],
            "pipeline.bucket_stats_s": t_stats,
            "pipeline.counts_s": t_counts,
            **reads,
            "layers.explained_s": t_write + t_stats + t_counts,
        }

    def counters(self, layer, per_op) -> dict[str, float]:
        """Event-log counters of the layer spans; ``layer(name)`` sums the
        groups of the last span called ``name``."""

        def self_counter(name: str, counter: str) -> float:
            base = layer(self._prev[name])[counter] if self._prev[name] else 0
            return layer(name)[counter] - base

        write = layer("route.write")
        return {
            "parse.executor_cpu_s": self_counter("operators.parse", "executor_cpu_s"),
            "normalize.jobs": self_counter("operators.normalize", "jobs"),
            "route.spill_bytes": write["spill_bytes"],
            "route.shuffle_write_bytes": write["shuffle_write_bytes"],
            "pipeline.jobs": per_op["jobs"],
        }


class Readback:
    """``readback``: ``read_sinks`` over a routed table the ingest path
    wrote during set-up, with an order-insensitive digest of every column
    of each typed sink view and of (conv_id, turn_idx, text)."""

    name = "readback"

    def __init__(self, work: Workdir, turns: int):
        self.work = work
        self.turns = turns
        self.input = work.path("input")
        self.table = work.path("table")
        self.rows = 0
        self.ref: dict[str, tuple[int, int]] = {}
        self.ref_digest = 0
        self.column_digests: dict[str, int] | None = None
        self.observed: dict[str, int] = {}

    def prepare(self, spark, seed: int) -> None:
        from otel_arrow_adapter_spark.datagen import synthesize_tool_catalog
        from otel_arrow_adapter_spark.plans import run_pipeline

        write_transcripts(spark, self.input, seed, self.turns)
        shutil.rmtree(self.table, ignore_errors=True)
        run_pipeline(
            spark,
            spark.read.parquet(self.input),
            synthesize_tool_catalog(spark, n_tools=N_TOOLS),
            self.table,
            n_buckets=0,
            id_mode="dense",
            suppress_text=True,
        )
        tmp = self.work.path("tmp")
        self.ref = reference.sink_counts(self.input, N_TOOLS, tmp)
        self.rows, self.ref_digest = reference.key_digest(self.input, tmp)
        self.column_digests = None

    def run(self, spark, i: int, tracer: Tracer | None = None):
        from otel_arrow_adapter_spark.operators.route import read_sinks

        with _span(tracer, "route.read_sinks"):
            views = read_sinks(spark, self.table)
            parts = [sink_digest(v, s) for s, v in views.items()]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return {r["sink"]: (r["n"], int(r["columns"] or 0), int(r["keys"] or 0)) for r in out.collect()}

    def check(self, spark, got) -> int:
        mismatched = sum(abs(got.get(s, (0,))[0] - n) for s, (n, _) in self.ref.items())
        columns = {s: v[1] for s, v in got.items()}
        if self.column_digests is None and mismatched == 0:
            self.column_digests = columns  # later reads must reproduce it
        if mismatched == 0 and columns != self.column_digests:
            mismatched = sum(got[s][0] for s in got if columns[s] != self.column_digests.get(s))
        if mismatched == 0 and sum(v[2] for v in got.values()) != self.ref_digest:
            mismatched = self._diff_rows(spark)
        return mismatched

    def _diff_rows(self, spark) -> int:
        """Rows of (conv_id, turn_idx, text) that differ between input and
        the restored sinks; only run once a digest disagrees."""
        from otel_arrow_adapter_spark.operators.route import read_sinks

        cols = ["conv_id", "turn_idx", "text"]
        src = spark.read.parquet(self.input).select(*cols)
        views = list(read_sinks(spark, self.table).values())
        got = views[0].select(*cols)
        for v in views[1:]:
            got = got.unionByName(v.select(*cols))
        return src.exceptAll(got).count() + got.exceptAll(src).count()

    def bytes_per_row(self) -> float:
        return dir_bytes(os.path.join(self.table, "routed"))[1] / self.rows

    def observe(self, spark) -> None:
        import duckdb

        routed = os.path.join(self.table, "routed")
        with duckdb.connect() as con:
            (restored,) = con.execute(
                f"SELECT count(*) - count(text) FROM read_parquet('{routed}/**/*.parquet')"
            ).fetchone()
        self.observed = {"route.restored_rows": restored}

    def cleanup(self) -> None:
        pass  # the operation writes nothing

    def layers(self, spark, tracer: Tracer) -> dict[str, float]:
        scan = _timed_prefix(
            tracer, "sources.scan", lambda: _noop(spark.read.parquet(os.path.join(self.table, "routed")))
        )
        out = {"sources.scan_s": scan, **_read_sink_spans(spark, tracer, self.table)}
        out["layers.explained_s"] = sum(v for k, v in out.items() if k.startswith("route.read_sinks_s."))
        return out

    def counters(self, layer, per_op) -> dict[str, float]:
        return {}


DEDUP_QUERIES = (
    "doc_dup_clusters",
    "doc_clean_corpus_near",
    "doc_leakage_free_split",
    "doc_incremental_dedup",
)


class Dedup:
    """``dedup``: one pass of the four dedup-chain queries of
    ``__spark_entry__.queries()``, each checked against its
    ``oracle_sql()`` result."""

    name = "dedup"

    def __init__(self, work: Workdir, n_docs: int):
        self.work = work
        self.n_docs = n_docs
        self.docs_dir = work.path("docs")
        self.docs = os.path.join(self.docs_dir, "documents.parquet")
        self.rows = n_docs
        self.ref: dict[str, tuple[list[str], list[str]]] = {}
        self.query_seconds: dict[str, list[float]] = {q: [] for q in DEDUP_QUERIES}
        self.observed: dict[str, int] = {}

    def prepare(self, spark, seed: int) -> None:
        import __spark_entry__ as entry

        os.makedirs(self.docs_dir, exist_ok=True)
        docgen.write_documents(self.docs, self.n_docs, seed)
        oracles = entry.oracle_sql()
        self.ref = reference.oracle_rows(
            self.docs, {q: oracles[q] for q in DEDUP_QUERIES}, self.work.path("tmp")
        )

    def run(self, spark, i: int, tracer: Tracer | None = None):
        import __spark_entry__ as entry

        queries = entry.queries()
        out = {}
        for q in DEDUP_QUERIES:
            t0 = time.perf_counter()
            with _span(tracer, f"dedup.{q}"):
                df = queries[q](spark, self.docs_dir)
                out[q] = (df.columns, [tuple(r) for r in df.collect()])
                df.unpersist()  # the caller owns a query's materialized result
            if tracer is not None:
                self.query_seconds[q].append(time.perf_counter() - t0)
        return out

    def check(self, spark, got) -> int:
        mismatched = 0
        for q, (cols, rows) in got.items():
            ref_cols, ref_rows = self.ref[q]
            normed = reference.norm_rows(cols, rows)
            if sorted(cols) != sorted(ref_cols):
                mismatched += max(len(normed), len(ref_rows))
            elif normed != ref_rows:
                diff = Counter(normed)
                diff.subtract(Counter(ref_rows))
                mismatched += sum(abs(v) for v in diff.values())
        return mismatched

    def bytes_per_row(self) -> float:
        return os.path.getsize(self.docs) / self.rows

    def observe(self, spark) -> None:
        pass

    def cleanup(self) -> None:
        pass  # the queries write nothing

    def layers(self, spark, tracer: Tracer) -> dict[str, float]:
        """Candidate and verified pair counts of the shared LSH -> Jaccard
        front half of the chain, on the queries' docs_plus input."""
        from otel_arrow_adapter_spark.functions.dedup import (
            doc_shingles,
            jaccard_pairs,
            lsh_candidates,
            minhash_signature,
        )

        scan = _timed_prefix(tracer, "sources.scan", lambda: _noop(spark.read.parquet(self.docs)))
        # docs_plus of __spark_entry__: exact copies of doc_id%10==0 and
        # tail-appended near copies of doc_id%7==0
        d = spark.read.parquet(self.docs).select("doc_id", "text")
        dp = (
            d.unionByName(d.where(F.col("doc_id") % 10 == 0).select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
            .unionByName(
                d.where(F.col("doc_id") % 7 == 0).select(
                    (F.col("doc_id") + 200000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
                )
            )
        )
        with tracer.span("dedup.pairs"):
            sh = doc_shingles(dp, distinct=False).persist()
            try:
                cand = lsh_candidates(minhash_signature(dp, num_hashes=8, shingles=sh), num_hashes=8, bands=4)
                n_cand = cand.count()
                pairs = jaccard_pairs(dp, threshold=0.5, candidates=cand, shingles=sh)
                n_verified = pairs.count()
                pairs.unpersist()
                cand.unpersist()
            finally:
                sh.unpersist()
        out = {
            "sources.scan_s": scan,
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": n_verified,
        }
        for q, secs in self.query_seconds.items():
            out[f"dedup.{q}_s"] = statistics.median(secs)
        out["layers.explained_s"] = sum(out[f"dedup.{q}_s"] for q in DEDUP_QUERIES)
        return out

    def counters(self, layer, per_op) -> dict[str, float]:
        return {
            "dedup.jobs": per_op["jobs"],
            "dedup.stages": per_op["stages"],
            "dedup.shuffle_write_bytes": per_op["shuffle_write_bytes"],
        }


def make(name: str, work: Workdir, sizes: dict) -> Pipeline | Readback | Dedup:
    if name == "ingest":
        return Pipeline(name, work, sizes["ingest_turns"], n_buckets=0, id_mode="dense", suppress_text=True)
    if name == "ingest_bucketed":
        # the jobs/run_pipeline_job.py cluster invocation
        return Pipeline(
            name, work, sizes["ingest_turns"],
            n_buckets=16, salt_buckets=nproc(), id_mode="hash", suppress_text=False,
        )
    if name == "readback":
        return Readback(work, sizes["readback_turns"])
    if name == "dedup":
        return Dedup(work, sizes["dedup_docs"])
    raise ValueError(f"unknown workload {name!r}")
