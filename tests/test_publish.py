"""Publishing goes through one module (``functions/publish.py``): every
directory swap and atomic file write, with one crash protocol and one
lock. The audit below fails on a hand-rolled rename or ``.old`` name; the
race and clustering tests pin what the shared protocol guarantees."""

import ast
import glob
import json
import os
import sys
import threading
import time
from datetime import datetime

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ecollector_spark.datapipe import similarity
from ecollector_spark.functions import publish
from ecollector_spark.schema import DATAPOINT_SCHEMA
from ecollector_spark.warehouse import Warehouse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def hand_rolled_publishes(root: str) -> list[str]:
    """``os.rename``/``os.replace`` calls and ``".old"`` literals under
    ``root``, outside ``functions/publish.py``."""
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path.endswith(os.path.join("functions", "publish.py")):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"
                    and node.func.attr in ("rename", "replace")
                ):
                    name = f"os.{node.func.attr}"
                elif isinstance(node, ast.Constant) and node.value == ".old":
                    name = '".old"'
                else:
                    continue
                found.append(f"{os.path.relpath(path, root)}:{node.lineno} {name}")
    return found


def test_every_publish_goes_through_the_publish_module():
    """A rename-aside swap or atomic write written by hand would escape
    the shared lock and crash recovery; ``functions.publish`` is the only
    place either may appear."""
    assert hand_rolled_publishes(os.path.join(REPO, "ecollector_spark")) == []


def test_publish_against_recovering_readers(tmp_path):
    """One publisher and more recovering readers than cores, with a
    shortened switch interval: every publish lands (a reader never
    restores ``.old`` over an in-flight swap) and leaves no ``.old``."""
    dst = str(tmp_path / "d")
    stop = threading.Event()
    errors: list[BaseException] = []

    def reader():
        try:
            while not stop.is_set():
                publish.recover(dst)
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    readers = [threading.Thread(target=reader) for _ in range(2 * (os.cpu_count() or 2))]
    try:
        for t in readers:
            t.start()
        for n in range(200):
            tmp = publish.staging(dst)
            os.makedirs(tmp)
            publish.write_atomic(os.path.join(tmp, "n"), str(n))
            publish.publish(tmp, dst)
            with open(os.path.join(dst, "n")) as f:
                assert f.read() == str(n)
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=30)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers) and errors == []
    assert os.listdir(tmp_path) == ["d"]


def _corpus(spark):
    """200 deterministic 16-dim vectors (no RNG)."""
    import math

    rows = [(i, [math.sin(0.1 * i * (d + 1) + d) for d in range(16)]) for i in range(200)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_reader_heal_mid_index_publish_does_not_abandon_build(spark, tmp_path, monkeypatch):
    """A reader's heal-on-touch landing between the index publish's
    rename(dst, old) and rename(tmp, dst) must wait for the publish, not
    rename ``.old`` back over the index (which fails the builder's final
    rename with ENOTEMPTY and keeps the old index)."""
    emb = _corpus(spark)
    idx = str(tmp_path / "index")
    similarity.lsh_build(emb, idx, bits=6, tables=2, dim=16)

    real_rename = os.rename
    healed: list[bool] = []
    injected: list[threading.Thread] = []

    def racy_rename(src, dst):
        real_rename(src, dst)
        if src == idx and dst == idx + ".old":
            # mid-publish window: index missing, .old present
            t = threading.Thread(target=lambda: healed.append(similarity.ivf_index_exists(idx)))
            t.start()
            injected.append(t)
            time.sleep(0.3)  # give the racer a chance to misbehave

    monkeypatch.setattr(os, "rename", racy_rename)
    similarity.lsh_build(emb, idx, bits=5, tables=2, dim=16, overwrite=True)
    monkeypatch.undo()
    for t in injected:
        t.join(timeout=30)
    assert injected and healed == [False]  # an LSH index has no centroids
    # the builder won: the rebuilt index is live, no .old residue
    with open(os.path.join(idx, "params.json")) as f:
        assert json.load(f)["bits"] == 5
    assert not os.path.isdir(idx + ".old")


def _points(spark, minute: int):
    rows = [
        {
            "measurement": "electricity_meter_power",
            "ts": datetime.fromisoformat(f"2024-01-01T00:{minute:02d}:10"),
            "series_id": f"electricity_meter_power;{dev};import",
            "dev_id": dev,
            "dir": "import",
            "value_f": float(minute),
            "unit": "W",
        }
        for dev in ("a", "b", "c", "d")
    ]
    return spark.createDataFrame(rows, DATAPOINT_SCHEMA).drop("tier")


def test_compaction_keeps_series_ts_clustering(spark, tmp_path):
    """A tier written in two appends (each clustered by write_points)
    and compacted into one file per measurement reads back sorted by
    (series_id, ts) in every file, so rowgroup min/max stats still prune
    after compaction."""
    w = Warehouse(spark, str(tmp_path / "w"))
    w.write_points(_points(spark, 0))
    w.write_points(_points(spark, 1))
    assert w.compact("gen_raw")
    files = glob.glob(os.path.join(w.tier_path("gen_raw"), "**", "*.parquet"), recursive=True)
    assert len(files) == 1
    keys = pq.read_table(files[0], columns=["series_id", "ts"]).to_pylist()
    assert len(keys) == 8
    assert keys == sorted(keys, key=lambda r: (r["series_id"], r["ts"]))
    assert w.read_tier("gen_raw").where(F.col("dev_id") == "a").count() == 2
