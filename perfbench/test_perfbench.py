"""The benchmark's own tests: answer checks, failure counting and a
small-size smoke run of each workload.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark in a child process (about a minute each).
"""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import release  # noqa: E402
import workloads as wl  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _newick(rel: release.Release, v: int, keep: set[int]) -> str:
    """Newick over the nodes in ``keep`` below ``v``, tips labelled by id."""
    kids = [c for c in rel.children[v] if c in keep]
    if not kids:
        return rel.label[v]
    return "(" + ",".join(_newick(rel, c, keep) for c in kids) + ")"


def oracle_answer(rel: release.Release, req: wl.Request) -> tuple[int, dict]:
    """The answer a correct server gives, built from the generator alone."""
    b = req.body
    by_ott = {uid: v for v, uid in rel.ott.items()}
    by_label = {lab: v for v, lab in enumerate(rel.label)}

    def node(x):
        return by_ott.get(x) if isinstance(x, int) else by_label.get(x)

    def blob(v):
        return {"node_id": rel.label[v], "num_tips": rel.num_tips(v)}

    kind = req.path.rsplit("/", 1)[1]
    if kind == "node_info":
        v = node(b.get("node_id", b.get("ott_id")))
        out = blob(v)
        if b.get("include_lineage"):
            out["lineage"] = [{"node_id": a} for a in rel.lineage(v)]
        return 200, out
    if kind == "about":
        return 200, {"synth_id": rel.tree_id, "root": blob(0)}
    if kind == "mrca":
        ids = b.get("node_ids") or b.get("ott_ids")
        bad = [x for x in ids if node(x) is None]
        if bad:
            key = "node_ids_not_in_tree" if "node_ids" in b else "ott_ids_not_in_tree"
            return 400, {key: bad}
        return 200, {"mrca": blob(rel.lca([node(x) for x in ids]))}
    if kind == "induced_subtree":
        tips = [node(x) for x in b["node_ids"]]
        keep = {a for t in tips for a in [t] + [by_label[x] for x in rel.lineage(t)]}
        return 200, {"newick": _newick(rel, 0, keep) + ";"}
    v = node(b["node_id"])
    if b.get("format") != "arguson":
        everything = set(range(rel.n_nodes))
        return 200, {"newick": _newick(rel, v, everything) + ";"}

    def nest(u, h):
        out = blob(u)
        if h and rel.children[u]:
            out["children"] = [nest(c, h - 1) for c in rel.children[u]]
        return out

    top = nest(v, b["height_limit"])
    top["lineage"] = [{"node_id": a} for a in rel.lineage(v)]
    return 200, {"arguson": top}


def corrupt(status: int, body: dict) -> tuple[int, dict]:
    """One wrong field per answer kind."""
    body = json.loads(json.dumps(body))
    if "newick" in body:
        body["newick"] = body["newick"].replace(",", ",ott1,", 1)
    elif "arguson" in body:
        body["arguson"]["num_tips"] += 1
    elif "mrca" in body:
        body["mrca"]["node_id"] += "x"
    elif "root" in body:
        body["root"]["num_tips"] -= 1
    elif "node_id" in body:
        body["num_tips"] += 1
    else:
        status = 200  # an expected 400 answered as success
    return status, body


@pytest.mark.parametrize("workload,tips", [("tree_read", 400), ("tree_extract", 6000)])
def test_checks_accept_right_and_reject_corrupted_answers(workload, tips):
    rel = release.generate(tips, 5)
    mix = wl.MIXES[workload](rel, random.Random(5))
    reqs = mix.warm_up() + [r for _ in range(3) for r in mix.cycle()]
    kinds = {r.kind for r in reqs}
    assert kinds >= ({"node_info", "mrca", "induced_subtree", "about"} if workload == "tree_read"
                     else {"subtree_newick", "subtree_arguson", "induced_subtree"})
    for req in reqs:
        status, body = oracle_answer(rel, req)
        assert req.check(status, body)[0], (req.kind, req.body)
        assert not req.check(*corrupt(status, body))[0], (req.kind, req.body)


def test_corrupted_answer_is_counted_as_failed(monkeypatch):
    """Drive the real closed loop against a stand-in server whose every
    third answer is corrupted: exactly those ops count as failed."""
    import treemachine_spark.api.server as server

    rel = release.generate(400, 9)
    mix = wl.ReadMix(rel, random.Random(9))
    sent: dict[int, bool] = {}

    class Cache:
        hits = misses = 0

    class StandIn:
        server_address = ("127.0.0.1", 0)
        response_cache = Cache()

        def serve_forever(self):
            pass

        def shutdown(self):
            pass

        def server_close(self):
            pass

    def fake_post(port, path, body):
        n = len(sent)
        req = wl.Request("", path, body, None)
        status, answer = oracle_answer(rel, req)
        sent[n] = n % 3 == 2
        if sent[n]:
            status, answer = corrupt(status, answer)
        return status, json.dumps(answer).encode(), 1.0

    monkeypatch.setattr(server, "make_server", lambda store, port: StandIn())
    monkeypatch.setattr(wl, "post", fake_post)
    run = wl.serve_and_drive(None, mix, seconds=0.05)
    warm = len(mix.CYCLE) * mix.WARM_CYCLES
    assert run.warm_failed == sum(sent[n] for n in range(warm))
    failed = [not s.ok for s in run.samples]
    assert failed == [sent[s.req] for s in run.samples]
    assert sum(failed) > 0


def test_cache_plan():
    """tree_read: two hits in every timed cycle but the second, where the
    about is a miss; tree_extract: never a repeated body."""
    rel = release.generate(6000, 4)
    read = wl.ReadMix(rel, random.Random(4))
    seen = {r.key for r in read.warm_up()}
    for c in range(5):
        cyc = read.cycle()
        hits = sum(r.key in seen for r in cyc)
        about = [r for r in cyc if r.kind == "about"]
        assert hits == (1 if c == 1 else 2), c
        assert (about[0].key in seen) == (c != 1)
        seen |= {r.key for r in cyc}
    extract = wl.ExtractMix(rel, random.Random(4))
    keys = [r.key for r in extract.warm_up() + [r for _ in range(4) for r in extract.cycle()]]
    assert len(keys) == len(set(keys))


def test_kill_leftover_jvms_spares_other_spark(tmp_path, monkeypatch):
    """Only JVMs with a temp dir under the benchmark's work dir are killed."""
    import run

    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    sleep = [sys.executable, "-c", "import time; time.sleep(60)", "org.apache.spark.deploy.SparkSubmit"]
    ours = subprocess.Popen(sleep + [f"-Djava.io.tmpdir={tmp_path}/{run.WORK_DIR}/r/tmp"])
    other = subprocess.Popen(sleep + [f"-Djava.io.tmpdir={tmp_path}/elsewhere"])
    try:
        time.sleep(0.5)
        run.kill_leftover_jvms()
        assert ours.wait(timeout=10) == -9
        assert other.poll() is None
    finally:
        for p in (ours, other):
            p.kill()
            p.wait()


def test_release_files_and_oracle_agree():
    rel = release.draw(2000, 3, candidates=3)
    assert rel.n_tips == 2000
    assert rel.closure_rows == sum(len(rel.lineage(v)) for v in range(rel.n_nodes))
    labels = set(rel.label)
    assert len(labels) == rel.n_nodes  # every label names one node
    text = rel.newick()
    assert wl.newick_tips(text) == {rel.label[t] for t in rel.tips}
    for v in random.Random(1).sample(range(rel.n_nodes), 50):
        assert len(rel.clade_tips(v)) == rel.num_tips(v)
        if rel.children[v]:
            a, b = rel.children[v][0], rel.children[v][-1]
            assert rel.lca([rel.tips[rel.tip_lo[a]], rel.tips[rel.tip_lo[b]]]) == v


def _run(cwd, *args, timeout=400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload,tips,trace", [
    ("tree_read", "500", "0"),
    ("tree_extract", "8000", "1"),
])
def test_smoke_run(workload, tips, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", trace, "--tips", tips)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "tree_read", "--seed", "1", "--seconds", "1", timeout=180)
    assert p.returncode != 0
    lines = p.stdout.strip().splitlines()
    assert not lines or '"correct"' not in lines[-1]
