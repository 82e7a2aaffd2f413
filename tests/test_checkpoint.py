"""Checkpoint manager: resume-without-recompute, lineage manifests."""

from __future__ import annotations

import json
import os

from blink_reloaded_spark.sources.checkpoint import CheckpointManager


def test_stage_skips_after_completion(spark, tmp_path):
    root = str(tmp_path / "ck")
    ckpt = CheckpointManager(spark, root)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    df1 = ckpt.stage("s1", build, inputs=["raw"])
    assert calls["n"] == 1 and df1.count() == 10
    df2 = ckpt.stage("s1", build)
    assert calls["n"] == 1, "stage must not recompute"
    assert df2.count() == 10
    # manifest carries lineage + metrics
    man = json.load(open(os.path.join(root, "s1", "_MANIFEST.json")))
    assert man["rows"] == 10 and man["inputs"] == ["raw"]
    assert ckpt.log[-1].get("resumed") is True


def test_partial_pipeline_resume_rebuilds_only_missing(spark, tmp_path):
    """Kill-after-stage-N semantics: wipe the two downstream checkpoints,
    rerun, and verify the upstream stages were skipped (resumed) while the
    wiped ones rebuilt — byte-identical output."""
    import shutil

    from blink_reloaded_spark import datagen
    from blink_reloaded_spark.plans.pipeline import LinkagePipeline

    cat = datagen.EntityCatalog.build(n_entities=15)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=10, turns_per_conv=4, hot_conv_factor=2
    )
    d = str(tmp_path / "ck")
    p1 = LinkagePipeline(spark, checkpoint_dir=d)
    c1 = p1.run(tr, cat.entities_df(spark), mentions=me)
    r1 = sorted(map(tuple, c1.collect()))

    shutil.rmtree(os.path.join(d, "links"))
    shutil.rmtree(os.path.join(d, "clusters"))
    p2 = LinkagePipeline(spark, checkpoint_dir=d)
    c2 = p2.run(tr, cat.entities_df(spark), mentions=me)
    assert sorted(map(tuple, c2.collect())) == r1
    # resumed stages read a tiny checkpoint; generous absolute bound keeps
    # this robust on the noisy shared-disk sandbox
    assert p2.metrics["mentions_sec"] < 5.0
    assert p2.metrics["surfaces_sec"] < 5.0


def test_incomplete_checkpoint_recomputes(spark, tmp_path):
    """A killed write (data files but no manifest) must be redone."""
    root = str(tmp_path / "ck2")
    ckpt = CheckpointManager(spark, root)
    os.makedirs(os.path.join(root, "s1"), exist_ok=True)
    with open(os.path.join(root, "s1", "part-00000.parquet"), "w") as f:
        f.write("garbage")  # simulates a torn write, no _MANIFEST.json
    df = ckpt.stage("s1", lambda: spark.range(3))
    assert df.count() == 3


def test_fingerprint_mismatch_rebuilds(spark, tmp_path):
    from blink_reloaded_spark.sources.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, str(tmp_path / "fp"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(calls["n"],)], "v long")

    a = ckpt.stage("s", build, fingerprint="cfgA")
    assert calls["n"] == 1 and a.collect()[0]["v"] == 1
    # same fingerprint -> resumed, not rebuilt
    a2 = ckpt.stage("s", build, fingerprint="cfgA")
    assert calls["n"] == 1 and a2.collect()[0]["v"] == 1
    # changed params -> must NOT silently return stale output (ADVICE r1)
    b = ckpt.stage("s", build, fingerprint="cfgB")
    assert calls["n"] == 2 and b.collect()[0]["v"] == 2
    assert {"stage": "s", "rebuilt": "fingerprint_mismatch"} in ckpt.log
    # None opts out: existence-only resume
    c = ckpt.stage("s", build)
    assert calls["n"] == 2 and c.collect()[0]["v"] == 2


def test_pipeline_param_change_invalidates_checkpoints(spark, tmp_path):
    from blink_reloaded_spark.plans.pipeline import LinkagePipeline

    p1 = LinkagePipeline(spark, checkpoint_dir=str(tmp_path / "pc"))
    p2 = LinkagePipeline(spark, checkpoint_dir=str(tmp_path / "pc"), bands=6)
    assert p1._fingerprint(["a", "b"]) == p1._fingerprint(["b", "a"])
    assert p1._fingerprint(["a"]) != p1._fingerprint(["b"])
    assert p1._fingerprint(["a"]) != p2._fingerprint(["a"])


def test_iceberg_path_records_snapshot_lineage():
    """Drive the Iceberg branch of CheckpointManager.write with a pure-
    Python fake session (the sandbox has no Iceberg runtime jar): the
    manager must set the fingerprint table property AND record the same
    rows/n_files lineage as the parquet manifest, read back from the
    committed snapshot's summary (VERDICT r3 #8)."""
    from blink_reloaded_spark.sources.checkpoint import CheckpointManager

    calls = {"props": {}, "sql": [], "created": []}

    class FakeWriter:
        def using(self, fmt):
            assert fmt == "iceberg"
            return self

        def tableProperty(self, k, v):
            calls["props"][k] = v
            return self

        def createOrReplace(self):
            calls["created"].append(True)

    class FakeSchema:
        def simpleString(self):
            return "struct<v:bigint>"

    class FakeDF:
        schema = FakeSchema()

        def writeTo(self, full):
            assert full == "iceberg.ns.s1"
            return FakeWriter()

    class FakeRow(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    class FakeQuery:
        def collect(self):
            return [FakeRow(summary={"total-records": "7",
                                     "total-data-files": "2"})]

    class FakeReader:
        def table(self, full):
            return FakeDF()

    class FakeSpark:
        read = FakeReader()

        def sql(self, q):
            calls["sql"].append(q)
            return FakeQuery()

    ckpt = CheckpointManager(FakeSpark(), "ns", use_iceberg=True)
    ckpt.write("s1", FakeDF(), inputs=["in1"], fingerprint="fpX")
    assert calls["props"] == {"blink.fingerprint": "fpX"}
    assert any("iceberg.ns.s1.snapshots" in q for q in calls["sql"])
    man = ckpt.log[-1]
    assert man["rows"] == 7 and man["n_files"] == 2
    assert man["fingerprint"] == "fpX" and man["inputs"] == ["in1"]
    assert "lineage_error" not in man


def _pre_probe_fingerprint(p, surfaces):
    """LinkagePipeline._fingerprint as it was while the candidates stage
    wrote (a, b) rows: the same keys, no candidates_schema."""
    import hashlib

    src = json.dumps(
        {
            "bands": p.bands,
            "rows": p.rows,
            "shingle_k": p.shingle_k,
            "threshold": p.threshold,
            "max_block": p.max_block,
            "max_entity_block": p.max_entity_block,
            "max_candidates_per_mention": p.max_candidates_per_mention,
            "max_key_pairs": p.max_key_pairs,
            "id_bits": p.id_bits,
            "cos_source": p.cos_source,
            "surfaces_schema": 2,
            "surfaces": sorted(surfaces) if surfaces else None,
        },
        sort_keys=True,
    )
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def test_pre_probe_checkpoint_dir_rebuilds(spark, tmp_path):
    """A checkpoint dir whose candidates stage holds (a, b) rows under the
    fingerprint of the code before the probe kernel must be rebuilt, not
    resumed: the links stage reads jw and cos from the candidates. The
    rebuilt candidates manifest records the entity index it was built
    from."""
    import shutil

    from blink_reloaded_spark import datagen
    from blink_reloaded_spark.plans.pipeline import INDEX_METRICS, LinkagePipeline

    cat = datagen.EntityCatalog.build(n_entities=15)
    tr, me = datagen.generate_transcripts(
        spark, cat, n_convs=10, turns_per_conv=4, hot_conv_factor=2
    )
    ents = cat.entities_df(spark)
    d = str(tmp_path / "ck")
    p1 = LinkagePipeline(spark, checkpoint_dir=d)
    want = sorted(map(tuple, p1.run(tr, ents, mentions=me).collect()))
    old_fp = _pre_probe_fingerprint(p1, None)
    assert old_fp != p1._fingerprint(None)

    # the dir as the older code left it, after losing links and clusters
    cdir = os.path.join(d, "candidates")
    pairs = spark.read.parquet(cdir).select("a", "b").collect()
    shutil.rmtree(cdir)
    spark.createDataFrame(pairs, "a long, b long").write.parquet(cdir)
    for stage in ("mentions", "surfaces", "candidates"):
        man = os.path.join(d, stage, "_MANIFEST.json")
        meta = json.load(open(man)) if os.path.exists(man) else {"stage": stage}
        meta["fingerprint"] = old_fp
        json.dump(meta, open(man, "w"))
    for stage in ("links", "clusters"):
        shutil.rmtree(os.path.join(d, stage))

    p2 = LinkagePipeline(spark, checkpoint_dir=d)
    assert sorted(map(tuple, p2.run(tr, ents, mentions=me).collect())) == want
    man = json.load(open(os.path.join(cdir, "_MANIFEST.json")))
    assert man["fingerprint"] == p2._fingerprint(None)
    assert "jw:double" in man["schema"] and "cos:double" in man["schema"]
    assert set(man["metrics"]) == set(INDEX_METRICS)
    assert man["metrics"]["index_keys"] > 0 and man["metrics"]["index_shards"] == 1
