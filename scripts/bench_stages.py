#!/usr/bin/env python
"""Stage-isolated timing for the two catalogue-bound pipeline stages at the
20k-entity shape (VERDICT r3 #4: commit the links-chain decomposition as a
re-derivable artifact, not an in-session claim).

Protocol (same discipline as bench_scaling.py):
* inputs are PRE-MATERIALIZED once to tmpfs parquet — the surfaces node
  table (id, text, is_mention, surf_min, vec, tk) and the candidates table
  (a, b, jw, cos) exactly as the pipeline's checkpoints would hold them;
* each TRIAL is a fresh JVM; levels are interleaved; per-JVM warmup runs
  a small end-to-end chain first (JIT + codegen + Python UDF workers);
* each timed stage reads ONLY its materialized input (localCheckpointed,
  counted), so the number is that stage's cost alone:
    - candidates_sec: entity key index + purge + the probe kernel (top-k,
      JW, cos), from the surfaces table;
    - links_sec: the JVM score tail + argmax link (carrying the surface
      text and surf_min), from the candidates.

Usage: python scripts/bench_stages.py [n_convs] [tpc] [lo] [hi]
Env: SPARK_GRAFT_ENTITIES (default 20000), SPARK_GRAFT_TRIALS (default 3).
Writes BENCH_STAGES.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

GEN = r"""
import os, sys
os.makedirs("/dev/shm/spark-local", exist_ok=True)
from pyspark.sql import functions as F
from blink_reloaded_spark.session import get_spark
from blink_reloaded_spark import datagen
from blink_reloaded_spark.plans.pipeline import (
    LinkagePipeline, ENTITY_ID_OFFSET,
)
from blink_reloaded_spark.operators.mentions import extract_mentions
from blink_reloaded_spark.functions.embedding import hashed_embedding_udf
from blink_reloaded_spark.functions.text import tokens

n_convs = int(sys.argv[1]); tpc = int(sys.argv[2]); n_entities = int(sys.argv[3])
out = sys.argv[4]
spark = get_spark(app_name="stages-gen", master="local[16]",
                  shuffle_partitions=16,
                  extra_conf={"spark.local.dir": "/dev/shm/spark-local"})
cat = datagen.EntityCatalog.build(n_entities=n_entities)
tr, _ = datagen.generate_transcripts(spark, cat, n_convs=n_convs,
                                     turns_per_conv=tpc, hot_conv_factor=100)
surfaces = [a["surface"] for a in cat.aliases]
m = extract_mentions(tr.select("conv_id", "turn_idx", "text"), surfaces,
                     with_context=False)
ment_surf = (
    m.groupBy(F.col("mention").alias("text"))
    .agg(F.min("mention_id").alias("surf_min"))
    .select(F.xxhash64(F.lit("surf"), "text").alias("id"), "text",
            F.lit(True).alias("is_mention"), "surf_min")
)
ent_surf = cat.entities_df(spark).select(
    (F.lit(ENTITY_ID_OFFSET) - F.col("entity_id")).alias("id"),
    F.lower(F.col("title")).alias("text"), F.lit(False).alias("is_mention"),
    F.lit(None).cast("long").alias("surf_min"),
)
surfaces_t = (
    ment_surf.unionByName(ent_surf)
    .withColumn("vec", hashed_embedding_udf(F.col("text")))
    .withColumn("tk", tokens(F.col("text")))
)
surfaces_t.write.mode("overwrite").parquet(out + "/surfaces")

pipe = LinkagePipeline.tuned(spark, n_entities, collect_metrics=False)
surf_ck = spark.read.parquet(out + "/surfaces").localCheckpoint()
cands = pipe.build_candidates_from(surf_ck)
cands.write.mode("overwrite").parquet(out + "/cands")
n_s = spark.read.parquet(out + "/surfaces").count()
n_c = spark.read.parquet(out + "/cands").count()
print("GEN_OK", n_s, n_c)
"""

WORKER = r"""
import json, os, sys, time
cpus = sys.argv[1]; n_entities = int(sys.argv[2]); inp = sys.argv[3]
os.makedirs("/dev/shm/spark-local", exist_ok=True)
from pyspark.sql import functions as F
from blink_reloaded_spark.session import get_spark
from blink_reloaded_spark.plans.pipeline import LinkagePipeline

spark = get_spark(app_name=f"stages-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=int(cpus),
                  extra_conf={"spark.local.dir": "/dev/shm/spark-local"})
overrides = {}
if os.environ.get("SPARK_GRAFT_MAX_KEY_PAIRS"):
    overrides["max_key_pairs"] = int(os.environ["SPARK_GRAFT_MAX_KEY_PAIRS"])
pipe = LinkagePipeline.tuned(spark, n_entities, collect_metrics=False,
                             **overrides)

surfaces_t = spark.read.parquet(inp + "/surfaces").localCheckpoint()
surfaces_t.count()
cands = spark.read.parquet(inp + "/cands").localCheckpoint()
cands.count()

# warmup: touch EVERY task slot's Python worker (a `limit` slice collapses
# to one partition and warms one worker; the timed run then cold-imports
# numpy/pandas on the rest — measured as 2-5x bimodal links walls), then
# run the same chain shapes on a small slice (JIT, codegen caches)
from blink_reloaded_spark.functions.embedding import hashed_embedding_udf
from blink_reloaded_spark.functions.similarity import jaro_winkler_udf
spark.range(int(cpus) * 4).repartition(int(cpus)).select(
    hashed_embedding_udf(F.col("id").cast("string")).alias("v"),
    jaro_winkler_udf(F.col("id").cast("string"),
                     F.col("id").cast("string")).alias("j"),
).write.format("noop").mode("overwrite").save()
warm_surf = surfaces_t.limit(3000).repartition(int(cpus)).localCheckpoint()
pipe.build_candidates_from(warm_surf).write.format("noop").mode("overwrite").save()
warm_cands = cands.limit(20000).repartition(int(cpus)).localCheckpoint()
pipe.build_links_from(warm_cands, surfaces_t).write.format("noop").mode("overwrite").save()

from blink_reloaded_spark.procstat import tree_cpu_seconds

c0 = tree_cpu_seconds()
t0 = time.time()
pipe.build_candidates_from(surfaces_t).write.format("noop").mode("overwrite").save()
cand_sec = time.time() - t0
cand_cpu = tree_cpu_seconds() - c0

c0 = tree_cpu_seconds()
t0 = time.time()
links = pipe.build_links_from(cands, surfaces_t)
links.write.format("noop").mode("overwrite").save()
links_sec = time.time() - t0
links_cpu = tree_cpu_seconds() - c0

if os.environ.get("SPARK_GRAFT_EXPLAIN"):
    with open("/tmp/links_plan.txt", "w") as f:
        f.write(links._jdf.queryExecution().executedPlan().toString())

out = {"cpus": int(cpus), "candidates_sec": round(cand_sec, 2),
       "links_sec": round(links_sec, 2),
       "candidates_cpu_sec": round(cand_cpu, 2),
       "links_cpu_sec": round(links_cpu, 2)}
print(json.dumps(out))
"""

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sub(code: str, *args: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True, text=True, cwd=ROOT,
    )
    lines = [l for l in out.stdout.strip().splitlines()
             if l.startswith("{") or l.startswith("GEN_OK")]
    if not lines:
        raise RuntimeError(f"subprocess failed:\n{out.stderr[-3000:]}")
    return lines[-1]


def main() -> None:
    n_entities = int(os.environ.get("SPARK_GRAFT_ENTITIES", "20000"))
    trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    inp = "/dev/shm/stages-input"

    # dev modes: `prep` generates the inputs and exits; `worker N` runs one
    # fresh-JVM trial at local[N] against existing inputs (iteration loop —
    # committed artifacts come from the full protocol below)
    if len(sys.argv) > 1 and sys.argv[1] == "prep":
        n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 79000
        tpc = int(sys.argv[3]) if len(sys.argv) > 3 else 25
        print(_sub(GEN, str(n_convs), str(tpc), str(n_entities), inp))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        print(_sub(WORKER, sys.argv[2], str(n_entities), inp))
        return

    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 79000
    tpc = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    lo = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    hi = int(sys.argv[4]) if len(sys.argv) > 4 else 8

    if not os.path.exists(inp + "/cands"):
        print(_sub(GEN, str(n_convs), str(tpc), str(n_entities), inp),
              flush=True)

    results: dict[int, list[dict]] = {lo: [], hi: []}
    for t in range(trials):
        for cpus in (lo, hi):
            r = json.loads(_sub(WORKER, str(cpus), str(n_entities), inp))
            results[cpus].append(r)
            print(f"trial {t} local[{cpus}]: cand={r['candidates_sec']}s "
                  f"links={r['links_sec']}s", flush=True)
    if not os.environ.get("SPARK_GRAFT_KEEP_INPUT"):
        shutil.rmtree(inp, ignore_errors=True)

    import statistics

    def best(c, k):
        return min(r[k] for r in results[c])

    def med(c, k):
        return round(statistics.median(r[k] for r in results[c]), 2)

    result = {
        "job": f"stage_isolated_{n_entities}ent",
        "n_entities": n_entities,
        # headline = MEDIAN (ADVICE r4: consistent with bench.py's rule);
        # best kept alongside for continuity with the r4 artifact
        "candidates_sec": {str(c): med(c, "candidates_sec") for c in (lo, hi)},
        "links_sec": {str(c): med(c, "links_sec") for c in (lo, hi)},
        "candidates_sec_best": {
            str(c): best(c, "candidates_sec") for c in (lo, hi)
        },
        "links_sec_best": {str(c): best(c, "links_sec") for c in (lo, hi)},
        "candidates_cpu_sec": {
            str(c): med(c, "candidates_cpu_sec") for c in (lo, hi)
        },
        "links_cpu_sec": {str(c): med(c, "links_cpu_sec") for c in (lo, hi)},
        "aggregation": "median (best kept as *_best)",
        "trials": {str(c): results[c] for c in (lo, hi)},
        "note": (
            f"isolated stage timings on pre-materialized tmpfs inputs, "
            f"fresh JVM per trial, interleaved local[{lo}]/local[{hi}], "
            f"per-JVM warmup chain, median of {trials} (all trials "
            "recorded); candidates_sec = blocking+purge+key-join+top-k "
            "from the surfaces node table; links_sec = two-phase scoring + "
            "argmax link (incl. carried surface text) from the candidate "
            "pairs; *_cpu_sec = process-tree CPU (JVM + Python workers), "
            "the neighbor-load-immune cost measure"
        ),
    }
    path = os.path.join(ROOT, "BENCH_STAGES.json")
    doc = {"jobs": {}}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
    doc["jobs"][result["job"]] = result
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
