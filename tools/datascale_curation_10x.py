"""10x data-scale probe for the CURATION heavy hitters (VERDICT r5 #4).

BENCH/datascale_10x.json covers the end-to-end pipeline; this probe covers
the operators the r5 round added, at 10x their sf0.1 input, so the
100 TB extrapolation rests on measurements of the ops that matter:
LSH->Jaccard->connected-components dedup (doc_dup_clusters shape),
incremental ingestion dedup, IVF-PQ search, and the bigram LM.

Scaling construction (deterministic, no RNG state):

- documents x10: replica i in 0..9 offsets doc_id by i*1_000_000 and
  rewrites the TEXT with a replica-specific `translate` of the vowel
  characters, so shingle sets differ across replicas and the
  near-duplicate structure scales LINEARLY (x10 docs -> x10 dup pairs).
  Plain replication would make every doc a 10-way exact dup and grow the
  pair graph quadratically — that would measure a harder problem, not the
  same problem at 10x.
- embeddings x10: replica i offsets vec_id by i*1_000_000 and adds the
  same deterministic per-dimension perturbation bench.py's recall probe
  uses, scaled by replica, so vectors are distinct but the geometry stays
  comparable.

Prints one JSON line with wall seconds at 1x and 10x per op and the
per-row cost ratio (10x wall / 10x rows) / (1x wall / 1x rows) — ~1.0
means linear scaling; writes BENCH/datascale_curation_10x.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_VOWELS = "aeiou"
_ROTS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio",
         "eiaou", "iaeuo", "oaieu", "uoiea", "aoeui"]


def docs_at_scale(spark: SparkSession, replicas: int) -> DataFrame:
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    parts = []
    for i in range(replicas):
        t = F.col("text") if i == 0 else F.translate(F.col("text"), _VOWELS, _ROTS[i])
        parts.append(
            d.select((F.col("doc_id") + i * 1_000_000).alias("doc_id"), t.alias("text"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def docs_plus(docs: DataFrame) -> DataFrame:
    """The _docs_plus shape (planted exact + near copies) over any base."""
    exact = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
    )
    near = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


def emb_at_scale(spark: SparkSession, replicas: int) -> DataFrame:
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    parts = []
    for i in range(replicas):
        if i == 0:
            v = F.col("embedding")
        else:
            v = F.transform(
                "embedding",
                lambda x, j: x
                + 0.03 * ((F.pmod(F.col("vec_id") * 13 + j * 7 + i, F.lit(11)) - 5) / 5.0),
            )
        parts.append(
            e.select((F.col("vec_id") + i * 1_000_000).alias("vec_id"), v.alias("embedding"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def op_dup_clusters(docs: DataFrame) -> int:
    from otel_arrow_adapter_spark.functions.dedup import dup_clusters, lsh_jaccard_pairs

    pairs = lsh_jaccard_pairs(docs_plus(docs), threshold=0.5, num_hashes=8, bands=4)
    out = dup_clusters(pairs)
    pairs.unpersist()
    n = out.count()
    out.unpersist()
    return n


def op_incremental_dedup(docs: DataFrame) -> int:
    from otel_arrow_adapter_spark.functions.dedup import incremental_dedup

    index = docs.where(F.col("doc_id") % 3 == 0)
    batch = docs.where(F.col("doc_id") % 3 != 0).unionByName(
        docs.where(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"
        )
    )
    out = incremental_dedup(batch, index, threshold=0.7)
    n = out.count()
    out.unpersist()
    return n


def op_ivfpq(emb: DataFrame) -> int:
    from otel_arrow_adapter_spark.functions.similarity import ivfpq_search

    return ivfpq_search(emb, query_vec_id=0, k=10).count()


def op_bigram(docs: DataFrame) -> int:
    from otel_arrow_adapter_spark.functions.text import bigram_logprob

    return bigram_logprob(docs).count()


def main() -> None:
    from otel_arrow_adapter_spark.session import get_spark

    spark = get_spark(app_name="datascale-curation-10x", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    ops = {
        "doc_dup_clusters_shape": (op_dup_clusters, "docs"),
        "doc_incremental_dedup_shape": (op_incremental_dedup, "docs"),
        "emb_ivfpq_search_shape": (op_ivfpq, "emb"),
        "doc_bigram_logprob_shape": (op_bigram, "docs"),
    }
    result: dict = {"probe": "data_scale_10x_curation", "cores": CPUS, "sf": SF_DIR, "ops": {}}
    for scale, tag in ((1, "1x"), (10, "10x")):
        docs = docs_at_scale(spark, scale).localCheckpoint(eager=True)
        emb = emb_at_scale(spark, scale).localCheckpoint(eager=True)
        n_docs, n_emb = docs.count(), emb.count()
        result[f"n_docs_{tag}"], result[f"n_emb_{tag}"] = n_docs, n_emb
        for name, (fn, kind) in ops.items():
            inp = docs if kind == "docs" else emb
            fn(inp)  # warm (JIT/codegen), result discarded
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = fn(inp)
            wall = round(time.perf_counter() - t0, 2)
            spark.catalog.clearCache()
            result["ops"].setdefault(name, {})[tag] = {"sec": wall, "out_rows": rows}
            print(f"  {name} {tag}: {wall}s ({rows} rows)", file=sys.stderr)
        from otel_arrow_adapter_spark.caching import free_local_checkpoint

        free_local_checkpoint(docs)
        free_local_checkpoint(emb)

    for name, r in result["ops"].items():
        base = "n_emb" if name.startswith("emb") else "n_docs"
        per_1x = r["1x"]["sec"] / result[f"{base}_1x"]
        per_10x = r["10x"]["sec"] / result[f"{base}_10x"]
        r["per_row_cost_ratio_10x_vs_1x"] = round(per_10x / per_1x, 3)
    result["conclusion"] = (
        "per-row cost ratio ~1.0 = linear in data volume at fixed local[N] "
        "resources; <1.0 = fixed per-job overheads amortize at scale"
    )
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/datascale_curation_10x.json", "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
