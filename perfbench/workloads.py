"""Request mixes, answer checks and the closed-loop HTTP driver.

Both workloads send requests one at a time from one client (a closed loop)
to ``api.server`` over HTTP on localhost. Requests come in cycles whose
composition is fixed and whose order and keys are drawn from the seed; the
timed window always ends on a whole cycle, so every run of a workload
measures the same mix.

Every answer is checked against the generator's oracle after its timer has
stopped. A wrong answer or an unexpected status counts as a failed op.
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import random
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

from release import Release

ROUTE = "/v3/tree_of_life/"


@dataclass
class Request:
    kind: str
    path: str
    body: dict
    # check(status, payload) -> (answer is right, tips in the answer)
    check: Callable[[int, dict], tuple[bool, int]]

    @property
    def key(self) -> str:
        return self.path + json.dumps(self.body, sort_keys=True)


@dataclass
class Sample:
    req: int
    cycle: int
    kind: str
    ms: float
    ok: bool
    tips: int
    traced: bool


# -- answer checks --------------------------------------------------------


def newick_tips(text: str) -> set[str]:
    """Tip labels of a newick string whose labels contain no delimiters,
    as with ``label_format="id"``."""
    tips: set[str] = set()
    prev = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "(),;":
            prev = ch
            i += 1
            continue
        j = i
        while j < n and text[j] not in "(),;":
            j += 1
        if prev in (None, "(", ","):
            tips.add(text[i:j].split(":", 1)[0])
        i = j
    return tips


def check_node_info(rel: Release, v: int, lineage: bool):
    def check(status: int, b: dict) -> tuple[bool, int]:
        ok = (
            status == 200
            and b.get("node_id") == rel.label[v]
            and b.get("num_tips") == rel.num_tips(v)
        )
        if ok and lineage:
            ok = [x.get("node_id") for x in b.get("lineage", [])] == rel.lineage(v)
        return ok, 0

    return check


def check_mrca(rel: Release, nodes: list[int], bad: str | int | None):
    want = rel.lca(nodes)

    def check(status: int, b: dict) -> tuple[bool, int]:
        if bad is not None:
            listed = b.get("node_ids_not_in_tree", []) + b.get("ott_ids_not_in_tree", [])
            return status == 400 and listed == [bad], 0
        m = b.get("mrca", {})
        return (
            status == 200
            and m.get("node_id") == rel.label[want]
            and m.get("num_tips") == rel.num_tips(want)
        ), 0

    return check


def check_induced(rel: Release, tips: list[int]):
    want = {rel.label[t] for t in tips}

    def check(status: int, b: dict) -> tuple[bool, int]:
        if status != 200:
            return False, 0
        got = newick_tips(b.get("newick", ""))
        return got == want, len(got)

    return check


def check_subtree_newick(rel: Release, v: int):
    want = rel.clade_tips(v)

    def check(status: int, b: dict) -> tuple[bool, int]:
        if status != 200:
            return False, 0
        got = newick_tips(b.get("newick", ""))
        return got == want, len(got)

    check.want = want
    return check


def check_arguson(rel: Release, v: int, height: int):
    def check(status: int, b: dict) -> tuple[bool, int]:
        top = b.get("arguson", {})
        if status != 200 or [x.get("node_id") for x in top.get("lineage", [])] != rel.lineage(v):
            return False, 0
        tips = 0
        level = [(top, v)]
        for depth in range(height + 1):
            nxt = []
            for blob, u in level:
                if blob.get("node_id") != rel.label[u] or blob.get("num_tips") != rel.num_tips(u):
                    return False, 0
                kids = blob.get("children", [])
                want = rel.children[u] if depth < height else []
                if sorted(k.get("node_id") for k in kids) != sorted(rel.label[c] for c in want):
                    return False, 0
                tips += not rel.children[u]
                by_label = {rel.label[c]: c for c in want}
                nxt.extend((k, by_label[k["node_id"]]) for k in kids)
            level = nxt
        return True, tips

    return check


def check_about(rel: Release):
    def check(status: int, b: dict) -> tuple[bool, int]:
        r = b.get("root", {})
        return (
            status == 200
            and b.get("synth_id") == rel.tree_id
            and r.get("node_id") == rel.label[0]
            and r.get("num_tips") == rel.n_tips
        ), 0

    return check


# -- request mixes ----------------------------------------------------------


class ReadMix:
    """``tree_read``: light requests with Zipf-skewed keys.

    Each cycle of twelve holds five plain node_info, one node_info with
    lineage, two mrca over 2-32 ids, two induced_subtree whose tip counts
    (8-64) add up to 72, one about and one repeat of an earlier node_info
    or mrca. Fresh requests never repeat a body and ``about`` alternates
    between its two warm-up bodies, so after warm-up exactly two in twelve
    requests are response-cache hits (16.7%). The one exception is the
    second timed cycle (the first traced one of a traced run): its about
    asks with a third body, a miss, so ``v3.about`` runs once per window.
    Every fourth mrca names one id that is not in the tree and must get a
    400.

    The composition puts the median request in the node_info band, well
    clear of the slower kinds, so latency_p50_ms does not jump between
    bands from run to run.
    """

    CYCLE = ("node_info",) * 5 + (
        "node_info_lineage", "mrca", "mrca", "induced_subtree", "induced_subtree",
        "about", "repeat",
    )
    INDUCED_TIPS = 72  # per cycle, split between its two induced requests
    ZIPF_S = 1.1
    WARM_CYCLES = 2

    def __init__(self, rel: Release, rng: random.Random):
        self.rel = rel
        self.rng = rng
        self.order = list(range(rel.n_nodes))
        rng.shuffle(self.order)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** self.ZIPF_S for r in range(rel.n_nodes)))
        self.issued: set[str] = set()
        self.history: list[Request] = []
        self.n_mrca = 0
        self.n_about = 0
        self.n_cycles = 0  # cycles built so far, warm-up included

    def _zipf_node(self) -> int:
        x = self.rng.random() * self.cum[-1]
        return self.order[bisect.bisect_left(self.cum, x)]

    def _fresh(self, make: Callable[[], Request]) -> Request:
        while True:
            req = make()
            if req.key not in self.issued:
                self.issued.add(req.key)
                self.history.append(req)
                return req

    def _node_info(self, lineage: bool) -> Request:
        rel, v = self.rel, self._zipf_node()
        body: dict = {"node_id": rel.label[v]}
        if v in rel.ott and self.rng.random() < 0.3:
            body = {"ott_id": rel.ott[v]}
        if lineage:
            body["include_lineage"] = True
        return Request("node_info", ROUTE + "node_info", body, check_node_info(rel, v, lineage))

    def _mrca(self) -> Request:
        rel = self.rel
        self.n_mrca += 1
        k = self.rng.randint(2, 32)
        by_ott = self.n_mrca % 2 == 0
        nodes: list[int] = []
        while len(nodes) < k:
            v = self._zipf_node()
            if v not in nodes and (not by_ott or v in rel.ott):
                nodes.append(v)
        ids = [rel.ott[v] for v in nodes] if by_ott else [rel.label[v] for v in nodes]
        bad = None
        if self.n_mrca % 4 == 0:
            bad = 999_999_999_999 if by_ott else "ott999999999999"
            ids.insert(self.rng.randrange(len(ids) + 1), bad)
        body = {"ott_ids" if by_ott else "node_ids": ids}
        return Request("mrca", ROUTE + "mrca", body, check_mrca(rel, nodes, bad))

    def _induced(self, k: int) -> Request:
        rel = self.rel
        tips = self.rng.sample(rel.tips, k)
        body = {"node_ids": [rel.label[t] for t in tips], "label_format": "id"}
        return Request("induced_subtree", ROUTE + "induced_subtree", body, check_induced(rel, tips))

    def _about(self) -> Request:
        self.n_about += 1
        if self.n_cycles == self.WARM_CYCLES + 1:
            body = {"include_source_list": False}
        else:
            body = {"include_source_list": True} if self.n_about % 2 else {}
        return Request("about", ROUTE + "about", body, check_about(self.rel))

    def _repeat(self) -> Request:
        # Zipf over earlier node_info and mrca requests, oldest first: all
        # are still in the 256-entry cache because a run issues far fewer
        fresh = [r for r in self.history if r.kind in ("node_info", "mrca")]
        w = list(itertools.accumulate(1.0 / (i + 1) for i in range(len(fresh))))
        r = fresh[bisect.bisect_left(w, self.rng.random() * w[-1])]
        return Request(r.kind, r.path, r.body, r.check)

    def cycle(self) -> list[Request]:
        makers = {
            "node_info": lambda: self._fresh(lambda: self._node_info(False)),
            "node_info_lineage": lambda: self._fresh(lambda: self._node_info(True)),
            "mrca": lambda: self._fresh(self._mrca),
            "about": self._about,
        }
        reqs = [makers[k]() for k in self.CYCLE if k not in ("repeat", "induced_subtree")]
        k = self.rng.randint(8, 64)
        reqs += [self._fresh(lambda: self._induced(k)),
                 self._fresh(lambda: self._induced(self.INDUCED_TIPS - k))]
        self.rng.shuffle(reqs)
        reqs.insert(self.rng.randrange(1, len(reqs) + 1), self._repeat())
        self.n_cycles += 1
        return reqs

    def warm_up(self) -> list[Request]:
        return [r for _ in range(self.WARM_CYCLES) for r in self.cycle()]


class ExtractMix:
    """``tree_extract``: large answers, every body unique.

    Each cycle holds ``N_SUBTREES`` full-depth subtree newicks of clades of
    ``SUBTREE_TIPS`` tips, an arguson (height 3) of a clade of
    ``ARGUSON_TIPS`` tips, an induced subtree above the driver-path gate
    (``JOINED_TIPS``) and one below it, so both tiers of
    ``graph.traversal`` run. The one below the gate takes the tips that
    bring the cycle's newick answers to ``CYCLE_TIPS``, so tips per second
    does not swing with the draw of clade sizes.

    A subtree newick of a few hundred tips takes a third to a half of the
    time of each of the other three kinds, and the newicks are six of nine
    requests, so the median request always falls inside the newick band
    rather than between the bands of two slower kinds. The candidate
    clades are split by size into one stratum per newick of a cycle, and
    each cycle takes one clade from every stratum, so every cycle's
    newicks have the same spread of sizes.
    """

    N_SUBTREES = 6
    SUBTREE_TIPS = (150, 450)
    ARGUSON_TIPS = (600, 3000)
    JOINED_TIPS = (5001, 5200)
    CYCLE_TIPS = 8500
    # warm-up runs the arguson and the induced kinds on small answers: the
    # code paths compile at a fraction of a full cycle's cost
    WARM_TIPS = (100, 149)

    def __init__(self, rel: Release, rng: random.Random):
        self.rel = rel
        self.rng = rng
        self.used: set[str] = set()

        def clades(lo, hi):
            return sorted((v for v in range(rel.n_nodes) if lo <= rel.num_tips(v) <= hi),
                          key=rel.num_tips)

        subs = clades(*self.SUBTREE_TIPS)
        n = self.N_SUBTREES
        self.strata = [subs[len(subs) * i // n : len(subs) * (i + 1) // n] for i in range(n)]
        self.arg_clades = clades(*self.ARGUSON_TIPS)
        self.warm_clades = clades(*self.WARM_TIPS)
        if not (all(self.strata) and self.arg_clades and self.warm_clades):
            raise ValueError("release too small for the extract mix")

    def _unique(self, make: Callable[[], Request]) -> Request:
        for _ in range(1000):
            req = make()
            if req.key not in self.used:
                self.used.add(req.key)
                return req
        raise RuntimeError("ran out of distinct extract requests; use a larger release")

    def _subtree(self, clades: list[int]) -> Request:
        v = self.rng.choice(clades)
        body = {"node_id": self.rel.label[v], "label_format": "id"}
        return Request("subtree_newick", ROUTE + "subtree", body, check_subtree_newick(self.rel, v))

    def _arguson(self, clades: list[int]) -> Request:
        v = self.rng.choice(clades)
        body = {"node_id": self.rel.label[v], "format": "arguson", "height_limit": 3}
        return Request("subtree_arguson", ROUTE + "subtree", body, check_arguson(self.rel, v, 3))

    def _induced(self, k: int) -> Request:
        rel = self.rel
        tips = self.rng.sample(rel.tips, min(k, rel.n_tips))
        body = {"node_ids": [rel.label[t] for t in tips], "label_format": "id"}
        return Request("induced_subtree", ROUTE + "induced_subtree", body, check_induced(rel, tips))

    def cycle(self) -> list[Request]:
        subs = [self._unique(lambda: self._subtree(stratum)) for stratum in self.strata]
        joined = self.rng.randint(*self.JOINED_TIPS)
        driver = self.CYCLE_TIPS - joined - sum(len(r.check.want) for r in subs)
        reqs = subs + [
            self._unique(lambda: self._arguson(self.arg_clades)),
            self._unique(lambda: self._induced(driver)),
            self._unique(lambda: self._induced(joined)),
        ]
        self.rng.shuffle(reqs)
        return reqs

    def warm_up(self) -> list[Request]:
        # a newick keeps getting faster over its first several calls, so
        # warm-up ends with a cycle's worth drawn from the same strata
        return [
            self._unique(lambda: self._arguson(self.warm_clades)),
            self._unique(lambda: self._induced(self.WARM_TIPS[1])),
            self._unique(lambda: self._induced(self.JOINED_TIPS[0])),
        ] + [self._unique(lambda: self._subtree(stratum)) for stratum in self.strata]


MIXES = {"tree_read": ReadMix, "tree_extract": ExtractMix}


# -- closed-loop driver -----------------------------------------------------


@dataclass
class HttpRun:
    samples: list[Sample] = field(default_factory=list)
    warm: list[Sample] = field(default_factory=list)
    warm_s: float = 0.0
    first_timed: float = 0.0
    cache_hits: int = 0
    cache_misses: int = 0

    @property
    def warm_failed(self) -> int:
        return sum(not s.ok for s in self.warm)


def post(port: int, path: str, body: dict) -> tuple[int, bytes, float]:
    data = json.dumps(body).encode()
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, data, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        raw = resp.read()
    finally:
        conn.close()
    return resp.status, raw, (time.perf_counter() - t0) * 1000.0


def serve_and_drive(store, mix, seconds: float, tracer=None,
                    on_traced_cycle=None, on_warm=None) -> HttpRun:
    """Serve ``store`` and drive ``mix`` through its warm-up and the timed
    window, which runs whole cycles until their requests have taken
    ``seconds``. With a tracer, timed cycles run in blocks of untraced,
    traced, traced, untraced, so the tracing overhead is measured against
    the same mix in one process; ``on_traced_cycle(samples)`` runs after
    each traced cycle, outside the timed requests, and ``on_warm()`` once
    after warm-up.
    """
    from treemachine_spark.api.server import make_server

    srv = make_server(store, port=0)
    port = srv.server_address[1]
    run = HttpRun()
    req_no = itertools.count()
    if tracer is not None:
        current = {"req": -1}
        srv.core.handle = tracer.wrap(
            srv.core.handle, "server.handle",
            lambda a, k: {"req": current["req"], "path": a[0]},
        )
    server = threading.Thread(target=srv.serve_forever, daemon=True)
    server.start()

    def send(req: Request, cycle: int, traced: bool) -> Sample:
        n = next(req_no)
        if tracer is not None:
            current["req"] = n
            tracer.active = traced
        status, raw, ms = post(port, req.path, req.body)
        if tracer is not None:
            tracer.active = False
        try:
            ok, tips = req.check(status, json.loads(raw))
        except (ValueError, KeyError, TypeError, AttributeError):
            ok, tips = False, 0
        if not ok:
            print(f"wrong answer: {req.kind} {json.dumps(req.body)[:200]} -> "
                  f"{status} {raw[:300]!r}", file=sys.stderr)
        return Sample(n, cycle, req.kind, ms, ok, tips, traced)

    try:
        t0 = time.perf_counter()
        for req in mix.warm_up():
            run.warm.append(send(req, -1, False))
        run.warm_s = time.perf_counter() - t0
        if on_warm is not None:
            on_warm()
        cache = srv.response_cache
        hits0, misses0 = cache.hits, cache.misses
        run.first_timed = time.time()
        busy = 0.0
        for c in itertools.count():
            # untraced, traced, traced, untraced: both kinds sit equally
            # far into the warm-up curve
            traced = tracer is not None and c % 4 in (1, 2)
            first = len(run.samples)
            for req in mix.cycle():
                s = send(req, c, traced)
                run.samples.append(s)
                busy += s.ms / 1000.0
            if traced and on_traced_cycle is not None:
                on_traced_cycle(run.samples[first:])
            if busy >= seconds and (tracer is None or c % 4 == 3):
                break
        run.cache_hits = cache.hits - hits0
        run.cache_misses = cache.misses - misses0
    finally:
        srv.shutdown()
        srv.server_close()
        server.join(timeout=30)
    return run
