"""A txlog rollup stores each distinct schema once, and a rollup in the
older directory → schema form still loads."""

from __future__ import annotations

import json
import os

from eeg_data_lake_spark.sources.txlog import TxTable


def _rollup(t: TxTable) -> tuple[str, dict]:
    v = t._checkpoint_versions()[-1]
    p = os.path.join(t.log_dir, f"_checkpoint-{v:08d}.json")
    with open(p) as fh:
        return p, json.load(fh)


def test_rollup_stores_each_schema_once(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i, str(i))], "id long, v string"))
    t.append(spark.createDataFrame([(7, "x", 0.5)], "id long, v string, score double"))
    t.checkpoint()
    _, d = _rollup(t)
    assert len(d["schemas"]) == 4
    assert len(d["schema_list"]) == 2
    assert sorted(set(d["schemas"].values())) == [0, 1]
    # the expanded map is what the manifests logged
    logged = {}
    for n in sorted(os.listdir(t.log_dir)):
        if n[:-5].isdigit():
            with open(os.path.join(t.log_dir, n)) as fh:
                logged.update(json.load(fh)["schemas"])
    assert t._replay().schemas == logged


def test_old_form_rollup_loads(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(2):
        t.append(spark.createDataFrame([(i, str(i))], "id long, v string"))
    t.checkpoint()
    want = t._replay().schemas
    p, d = _rollup(t)
    shared = d.pop("schema_list")
    d["schemas"] = {k: shared[i] for k, i in d["schemas"].items()}
    with open(p, "w") as fh:
        json.dump(d, fh)
    assert t._load_checkpoint(None).schemas == want
    assert sorted(r.id for r in t.read().collect()) == [0, 1]
