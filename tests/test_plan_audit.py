"""The physical-plan audit is part of the test suite (VERDICT r8 #1).

Round 8 closed with a "plan audit PASS" claim while `python
tools/explain_audit.py` failed on HEAD — a stale `_raw_minhash`
LeftSemi assert survived a measured revert because nothing forced the
audit to run at round close. This test runs the EXACT judge command as
a subprocess (own JVM, default session conf — so the AQE wide-start
session check is exercised too, which an in-process run under the
pytest session's local[4]/shuffle=4 conf could not honestly do) and
fails the suite whenever the audit would fail.
"""

import ast
import os
import subprocess
import sys
import weakref

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_plan_audit_passes_on_head():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SHUFFLE"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "explain_audit.py"), SF_DIR],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=540,
    )
    tail = "\n".join(proc.stdout.splitlines()[-60:])
    assert proc.returncode == 0, (
        f"tools/explain_audit.py exited {proc.returncode}\n--- stdout tail ---\n"
        f"{tail}\n--- stderr tail ---\n"
        + "\n".join(proc.stderr.splitlines()[-15:])
    )
    assert "PASS (0 failures)" in proc.stdout


def test_audit_registry_builders_resolve():
    """Every CHECKS / BOUNDED_WINDOWS key must have a builder — a renamed
    gate must break here (cheap, no Spark) rather than at audit runtime."""
    sys.path.insert(0, REPO)
    from tools import explain_audit as ea

    builders = ea.audit_builders()
    missing = [k for k in (*ea.CHECKS, *ea.FENCES) if k not in builders]
    missing += [k for k in ea.BOUNDED_WINDOWS if k not in builders]
    assert not missing, f"audit entries without builders: {missing}"


def _call_name(node) -> str:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def hand_rolled_barriers(root: str) -> list[str]:
    """``.localCheckpoint(`` calls and one-element ``explode(array(x))``
    Column fences under ``root``, outside ``functions/barriers.py``."""
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path.endswith(os.path.join("functions", "barriers.py")):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                name = _call_name(node)
                one = node.args[0] if len(node.args) == 1 else None
                if name == "localCheckpoint" or (
                    name == "explode"
                    and isinstance(one, ast.Call)
                    and _call_name(one) == "array"
                    and len(one.args) == 1
                    and not isinstance(one.args[0], ast.Starred)
                ):
                    found.append(f"{os.path.relpath(path, root)}:{node.lineno} {name}")
    return found


def test_every_barrier_goes_through_the_barriers_module():
    """A checkpoint or a one-element explode fence written by hand would
    escape the fence audit below; ``functions.barriers`` is the only
    place either may appear."""
    assert hand_rolled_barriers(os.path.join(REPO, "ecollector_spark")) == []


def test_fence_checks_catch_a_reverted_fence(spark, monkeypatch):
    """Each FENCES check passes with the real fence and fails when the
    fence is swapped for a plain projection (what Catalyst inlining a
    one-element explode would leave)."""
    sys.path.insert(0, REPO)
    from ecollector_spark import transform
    from ecollector_spark.functions import barriers
    from tools import explain_audit as ea

    builders = ea.audit_builders()

    def failures():
        return {
            name: ea.fence_failures(
                builders[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString(),
                *fence,
            )
            for name, fence in ea.FENCES.items()
        }

    assert len(ea.FENCES) == 7
    assert failures() == {name: [] for name in ea.FENCES}
    monkeypatch.setattr(barriers, "fence", lambda expr: expr)
    # default_transform caches its expression fragments per SparkContext
    monkeypatch.setattr(transform, "_PREPARED", weakref.WeakKeyDictionary())
    reverted = failures()
    assert all(reverted.values()), reverted


def test_lsh_probe_fence_check_catches_the_unfenced_probe(spark, monkeypatch):
    """The `ann_lsh_indexed` fence check passes on the probe and fails when
    the fence is a plain projection: the threshold filter then carries
    its own copy of the 64-dim cosine fold, which runs twice per
    candidate row. The rows are the same either way."""
    sys.path.insert(0, REPO)
    import re

    from ecollector_spark.functions import barriers
    from tools import explain_audit as ea

    build = ea.audit_builders()["ann_lsh_indexed"]

    def probe():
        df = build(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return ea.fence_failures(plan, *ea.FENCES["ann_lsh_indexed"]), sorted(df.collect())

    fenced, rows = probe()
    assert fenced == [] and rows
    monkeypatch.setattr(barriers, "fence", lambda expr: expr)
    unfenced, same_rows = probe()
    assert same_rows == rows
    assert unfenced[-1] == "0 one-element Generates produce cosine (want 1)"
    assert re.search(r"is evaluated in [2-9] plan nodes", unfenced[0]), unfenced


def test_signature_parse_check_catches_the_eight_parse_kernel(spark, monkeypatch):
    """The `_raw_minhash_candidates` check allows 2 hex parses per md5
    digest: it passes on the two-word kernel and fails on a kernel that
    parses every 16-bit slice on its own."""
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from ecollector_spark.datapipe import dedup
    from tools import explain_audit as ea

    def eight_parse(sh, num_hashes):
        return sh.selectExpr("doc_id", "md5(shingle) AS _h0").groupBy("doc_id").agg(*[
            F.expr(f"min(CAST(conv(substring(_h0, {4 * i + 1}, 4), 16, 10) AS BIGINT)) AS mh_{i}")
            for i in range(num_hashes)
        ])

    def failures():
        df = ea.audit_builders()["_raw_minhash_candidates"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return ea.pattern_failures(plan, ea.CHECKS["_raw_minhash_candidates"])

    assert failures() == []
    monkeypatch.setattr(dedup, "_signatures_from_shingles", eight_parse)
    assert failures() == ["plan contains forbidden /(?:conv\\([^\\n]*){3}/"]


def test_index_probe_checks_catch_an_unpruned_read(spark, monkeypatch):
    """The `ann_ivf_pq_topk` and LSH probe checks pass on the gates and
    fail, on their partition-filter patterns alone, when the probe reads
    the same index with its partition predicates dropped (every list or
    bucket scanned)."""
    sys.path.insert(0, REPO)
    import re

    from tools import explain_audit as ea

    builders = ea.audit_builders()
    names = ["ann_ivf_pq_topk", "ann_lsh_bucketed", "ann_lsh_indexed"]

    def failures():
        return {
            n: ea.pattern_failures(
                builders[n](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString(),
                ea.CHECKS[n],
            )
            for n in names
        }

    assert failures() == {n: [] for n in names}
    frame = type(spark.range(1))
    where = frame.where

    def unpruned(self, cond):
        return self if re.search(r"\b(cid|_t|_b)\b", str(cond)) else where(self, cond)

    monkeypatch.setattr(frame, "where", unpruned)
    assert failures() == {
        n: [f"plan lacks /{p}/" for p in ea.CHECKS[n] if p.startswith("PartitionFilters")]
        for n in names
    }
