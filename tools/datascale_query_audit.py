"""Full-query-surface 10x data-scale audit.

Builds deterministic 10x replicas of the sf0.1 inputs under /tmp and
times EVERY registered query against both sizes with bench_extra.py's
exact protocol (one warmup, min of 2, caches cleared), writing
BENCH/datascale_query_audit_10x.json with per-query {sec_1x, sec_10x,
ratio}. A ratio near 1 means the query is fixed-overhead-bound at sf0.1;
near 10 means data-bound and linear; >10 flags a superlinear scale bug —
EXCEPT for the emb_ann_pairs* family, see below.

Replica construction (no RNG state):
- events x10: replica i offsets event_id by i*10M and user_id by i*1M,
  so the per-user turn-index window scales linearly (10x users, same
  turns/user).
- documents x10: replica i offsets doc_id by i*1M and rewrites text with
  a replica-specific vowel `translate`, so shingle sets differ across
  replicas and the near-dup pair graph grows LINEARLY.
- embeddings x10: replica i offsets vec_id by i*1M and perturbs each
  dimension by a deterministic +-0.03 hash pattern. NOTE: the replicas
  of one vector remain mutually cos-similar, so TRUE near-dup pairs grow
  QUADRATICALLY in the replica count — emb_ann_pairs output at 10x is
  ~120-176x the 1x rows. A large wall ratio there measures a harder
  problem, not a defect; judge those queries by wall / output-pairs.

Each requested query is timed in its own fresh session: one Python
subprocess per query (``time_one``), which starts its own Spark session,
times both sizes and exits. A long-lived session degrades (GC and
shuffle-state accrual — see the verify recipe), and a shared session
moved a row by up to ~30% with what ran before it. In the committed r6
artifact (one shared session), doc_decontaminate's 5.95 re-measured at
~2.0 fresh; the emb_ann_pairs* ratios are real but measure the
quadratic-pairs construction above, confirmed by output counts (1x
645/4,199 pairs -> 10x 113,650/504,060).

The replica directory is reused only when its ``_BUILT`` sentinel exists;
``build_10x`` writes it after its last artifact, so a build that died
half-way is rebuilt instead of silently timed.

Usage: python tools/datascale_query_audit.py [name1,name2,...]

With a name list, only those queries are re-timed: their rows replace
their own in the committed JSON and every other row is kept.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
OUT_DIR = os.environ.get("OAAS_AUDIT_10X_DIR", "/tmp/oaas_audit_10x")
BUILT = os.path.join(OUT_DIR, "_BUILT")
REPLICAS = 10
AUDIT_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "BENCH", "datascale_query_audit_10x.json")

_VOWELS = "aeiou"
_ROTS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio",
         "eiaou", "iaeuo", "oaieu", "uoiea", "aoeui"]


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_10x(spark: SparkSession) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    _union_all([
        ev.select(
            (F.col("event_id") + i * 10_000_000).alias("event_id"),
            (F.col("user_id") + i * 1_000_000).alias("user_id"),
            *[c for c in ev.columns if c not in ("event_id", "user_id")],
        ).select(*ev.columns)
        for i in range(REPLICAS)
    ]).write.mode("overwrite").parquet(f"{OUT_DIR}/events.parquet")

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _union_all([
        d.select(
            (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
            (F.col("text") if i == 0
             else F.translate(F.col("text"), _VOWELS, _ROTS[i])).alias("text"),
            *[c for c in d.columns if c not in ("doc_id", "text")],
        ).select(*d.columns)
        for i in range(REPLICAS)
    ]).write.mode("overwrite").parquet(f"{OUT_DIR}/documents.parquet")

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    def _perturb(i: int):
        # closure factory: a default-arg lambda would change the lambda's
        # arity, which F.transform inspects to bind (element, index)
        return lambda x, j: (
            x + 0.03 * ((F.pmod(F.col("vec_id") * 13 + j * 7 + i, F.lit(11)) - 5) / 5.0)
        ).cast("float")

    parts = []
    for i in range(REPLICAS):
        if i == 0:
            v = F.col("embedding")
        else:
            v = F.transform("embedding", _perturb(i))
        parts.append(
            e.select(
                (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                v.alias("embedding"),
                *[c for c in e.columns if c not in ("vec_id", "embedding")],
            ).select(*e.columns)
        )
    _union_all(parts).write.mode("overwrite").parquet(f"{OUT_DIR}/embeddings.parquet")

    for f in os.listdir(SF_DIR):
        dst = os.path.join(OUT_DIR, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_DIR, f), dst)
    with open(BUILT, "w") as f:
        f.write(SF_DIR + "\n")


def time_query(spark: SparkSession, fn, sf_dir: str, repeats: int = 2) -> float:
    fn(spark, sf_dir).count()  # warmup
    spark.catalog.clearCache()
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
        spark.catalog.clearCache()
    return round(best, 3)


def merge_audit(old: dict, new: dict) -> dict:
    """``old`` with the re-timed rows of ``new`` replacing their own and
    every other row kept, so a run over a name subset does not drop the
    rest of the audit."""
    return {**old, **new, "queries": {**old["queries"], **new["queries"]}}


def _session() -> SparkSession:
    from otel_arrow_adapter_spark.session import get_spark

    return get_spark(app_name="oaas-audit-10x", cores=CPUS, shuffle_partitions=CPUS)


def time_one(name: str) -> None:
    """Time query ``name`` at both sizes in this process's own session and
    print its row as the last line of stdout."""
    import __spark_entry__ as entrymod

    spark = _session()
    fn = entrymod.queries()[name]
    spark.sparkContext.setJobDescription(f"audit-10x: {name}")
    s1 = time_query(spark, fn, SF_DIR)
    s10 = time_query(spark, fn, OUT_DIR)
    spark.stop()
    print(json.dumps({"sec_1x": s1, "sec_10x": s10, "ratio": round(s10 / s1, 2)}))


def _in_subprocess(call: str) -> str:
    """Run ``call`` on this module in a fresh Python process (so in a fresh
    Spark session) and return its stdout."""
    here = os.path.dirname(os.path.abspath(__file__))
    code = (
        f"import sys; sys.path.insert(0, {here!r}); "
        f"import datascale_query_audit as audit; audit.{call}"
    )
    return subprocess.run(
        [sys.executable, "-c", code], check=True, stdout=subprocess.PIPE, text=True
    ).stdout


def main() -> None:
    import __spark_entry__ as entrymod

    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    if not os.path.exists(BUILT):
        _in_subprocess("build_10x(audit._session())")
    rows = {}
    for name in entrymod.queries():
        if only and name not in only:
            continue
        rows[name] = json.loads(_in_subprocess(f"time_one({name!r})").splitlines()[-1])
        r = rows[name]
        print(f"  {name}: 1x {r['sec_1x']} 10x {r['sec_10x']} ratio {r['ratio']}", file=sys.stderr)
    out = {"replicas": REPLICAS, "sf_1x": SF_DIR, "queries": rows}
    if only and os.path.exists(AUDIT_JSON):
        with open(AUDIT_JSON) as f:
            out = merge_audit(json.load(f), out)
    with open(AUDIT_JSON, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"n_queries": len(rows), "out": AUDIT_JSON}))


if __name__ == "__main__":
    main()
