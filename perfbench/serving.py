"""``search_session``: served, read-only search sessions.

Set-up bulk-uploads a seeded corpus into one owner/category through
``/api/upload`` (the first upload of a category seeds its IVF centroid
and assigns every chunk to it). After one untimed warm-up request per
request shape, closed-loop client threads replay sessions of related
queries (a seed query, refinements sharing most of its terms,
``offset`` pages, ``filter`` requests) against ``/api/search``, one
request in five being a ``/api/search_batch`` of the session's
queries. Embeddings come from the in-process fake ``/api/embed``
endpoint.

Checks: every uploaded id is stored with its vectors, and every page
(``/api/search`` and each ``/api/search_batch`` result) that probed
every inverted list equals the exact top-k over the stored vectors;
pages that probed fewer lists must hold distinct documents of the
category in rank order, and count toward recall@10.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.request

import numpy as np

import datagen
import oracle
import probes
from fake_embed import FakeEmbedServer
from spans import PARENT_HEADER

OWNER, CATEGORY = "bench", "docs"
SEARCH_PREFIX = "search_query: "


# -- inputs ---------------------------------------------------------------------
def corpus(seed: int, n_docs: int) -> list[dict]:
    rng = np.random.default_rng([seed, 1])
    texts = datagen.make_texts(rng, n_docs)
    langs = rng.choice(datagen.LANGS, n_docs, p=datagen.LANG_P)
    return [
        {"name": f"doc{i}", "external_id": f"e{i}", "document": {"text": t, "lang": str(lang)}}
        for i, (t, lang) in enumerate(zip(texts, langs))
    ]


def session_requests(seed: int, client: int, docs: list[dict], n: int) -> list[tuple[str, dict]]:
    """``n`` requests of one client: sessions of five related requests.

    A session starts from 4..6 words of a random document; each
    refinement swaps or adds one word. The request shapes follow a
    fixed template so that every seed sends the same mix (the seed
    picks only the words and filters): the seed query, its second page
    (offset 10), a refinement (every other session probing every
    list), a filtered refinement (name prefix or id list,
    alternating), and a ``/api/search_batch`` of the session's
    queries."""
    rng = np.random.default_rng([seed, 2, client])
    out: list[tuple[str, dict]] = []
    base = {"owner": OWNER, "category": CATEGORY, "count": 10}

    def refine(q: list[str]) -> list[str]:
        word = datagen.VOCAB[int(rng.integers(0, len(datagen.VOCAB)))]
        if len(q) < 8 and rng.random() < 0.5:
            return q + [word]
        q = list(q)
        q[int(rng.integers(0, len(q)))] = word
        return q

    session = 0
    while len(out) < n:
        words = docs[int(rng.integers(0, len(docs)))]["document"]["text"].split()
        start = int(rng.integers(0, max(1, len(words) - 6)))
        q0 = words[start : start + int(rng.integers(4, 7))]
        q1 = refine(q0)
        q2 = refine(q1)
        t0, t1, t2 = (" ".join(q) for q in (q0, q1, q2))
        if session % 2:
            flt = {"name_prefix": f"doc{int(rng.integers(1, 10))}"}
        else:
            flt = {"document_ids": sorted({int(x) for x in rng.integers(1, len(docs) + 1, 40)})}
        probe = {"centroids": -1} if session % 2 else {}
        out += [
            ("/api/search", dict(base, text=t0)),
            ("/api/search", dict(base, text=t0, offset=10)),
            ("/api/search", dict(base, text=t1, **probe)),
            ("/api/search", dict(base, text=t2, filter=flt)),
            ("/api/search_batch", dict(base, texts=[t0, t1, t2])),
        ]
        session += 1
    return out[:n]


# -- HTTP client --------------------------------------------------------------------
def post(base: str, path: str, body: dict, headers: dict | None = None, timeout: float = 170.0):
    """(status, parsed body, response bytes)."""
    req = urllib.request.Request(
        base + path,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json", **(headers or {})},
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw), len(raw)
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, {"error": raw.decode(errors="replace")}, len(raw)


# -- correctness ---------------------------------------------------------------------
class Checker:
    """Exact pages over the post-set-up store (the workload is read-only
    after set-up, so one snapshot answers every request)."""

    def __init__(self, root: str, embedder, live_ids: set[int], names: dict[int, str]):
        self.index = oracle.ExactIndex(root)
        self.embedder = embedder
        self.live = live_ids
        self.names = names
        self._memo: dict[str, list[tuple[int, float]]] = {}
        self._lock = threading.Lock()
        self.recall_hits = 0
        self.recall_total = 0

    def _ranking(self, text: str) -> list[tuple[int, float]]:
        with self._lock:
            hit = self._memo.get(text)
        if hit is None:
            q = oracle.quantize_roundtrip(np.asarray(self.embedder.embed(SEARCH_PREFIX + text)))
            hit = self.index.ranking(q)
            with self._lock:
                self._memo[text] = hit
        return hit

    def _allowed(self, flt: dict | None):
        if not flt:
            return None
        if "name_prefix" in flt:
            return {d for d, n in self.names.items() if n.startswith(flt["name_prefix"])}
        return set(flt["document_ids"])

    def vector_page(self, text: str, req: dict, docs: list[dict]) -> str | None:
        ranking = self._ranking(text)
        allowed = self._allowed(req.get("filter"))
        if allowed is not None:
            ranking = [r for r in ranking if r[0] in allowed]
        off = int(req.get("offset") or 0)
        exact = ranking[off : off + int(req.get("count") or 10)]
        served = [(int(d["document_id"]), float(d["document_similarity"])) for d in docs]
        if off == 0 and not req.get("filter"):
            with self._lock:
                self.recall_hits += len({s for s, _ in served} & {e for e, _ in exact})
                self.recall_total += len(exact)
        if req.get("centroids") == -1 or len(self.index.lists) <= 1:
            # every list probed: the page must be the exact page
            return oracle.page_mismatch(served, exact, dict(ranking))
        return self.well_formed(docs)

    def well_formed(self, docs: list[dict]) -> str | None:
        ids = [int(d["document_id"]) for d in docs]
        if len(set(ids)) != len(ids):
            return "duplicate documents"
        if any(i not in self.live for i in ids):
            return "document not in the category"
        scores = [float(d["document_similarity"]) for d in docs]
        if any(b > a + 1e-12 for a, b in zip(scores, scores[1:])):
            return "scores not in rank order"
        return None

    def check(self, path: str, req: dict, out: dict) -> str | None:
        if path == "/api/search":
            return self.vector_page(req["text"], req, out.get("documents", []))
        results = out.get("results", [])
        if len(results) != len(req["texts"]):
            return "batch result count"
        for t, r in zip(req["texts"], results):
            why = self.vector_page(t, req, r.get("documents", []))
            if why:
                return why
        return None


# -- workload ---------------------------------------------------------------------------
def run(ctx) -> dict:
    spark, args, tracer = ctx.spark, ctx.args, ctx.tracer
    from go_vectorsearch_spark.api import Engine
    from go_vectorsearch_spark.service import make_server

    n_docs = 60 if args.smoke else 1000
    docs = corpus(args.seed, n_docs)
    root = os.path.join(ctx.work, "engine")
    shutil.rmtree(root, ignore_errors=True)
    fake = FakeEmbedServer()
    engine = Engine(spark, root, api_bases=[fake.base])
    srv = make_server(engine)
    srv.daemon_threads = True
    srv_thread = threading.Thread(target=srv.serve_forever, daemon=True)
    srv_thread.start()
    base = f"http://127.0.0.1:{srv.server_port}"
    installed = probes.ServingProbes(tracer, srv, engine, ctx.groups) if args.trace else None
    rep: dict = {"ops": []}
    failures: list[str] = []
    try:
        setup = _setup(base, docs, tracer, args)
        live = set(setup["ids"])
        names = {i: d["name"] for i, d in zip(setup["ids"], docs)}
        checker = Checker(root, fake.embedder, live, names)
        _check_store(checker, setup, failures)
        _warm_up(base, docs, checker, failures, args)
        emb0 = fake.counters.snapshot()
        _window(base, docs, checker, tracer, rep, failures, args)
        emb1 = fake.counters.snapshot()
        rep["embed_window"] = {k: emb1[k] - emb0[k] for k in emb1}
        rep["lists"] = checker.index.lists
        rep["recall_at_10"] = checker.recall_hits / checker.recall_total if checker.recall_total else 1.0
        rep["store_bytes"] = probes.dir_bytes(root)
        rep["payload_bytes"] = sum(len(json.dumps(d["document"])) for d in docs)
        rep.update(setup)
    finally:
        srv.shutdown()
        srv.server_close()
        srv_thread.join(timeout=30)
        fake.close()
        if installed is not None:
            installed.uninstall()
    rep["failures"] = failures
    return rep


def _setup(base, docs, tracer, args) -> dict:
    """The bulk upload, timed (traced runs trace it as one request)."""
    t0 = time.perf_counter()
    if tracer.enabled:
        with tracer.span("client.upload", rid="setup-upload") as sp:
            status, body, _ = post(base, "/api/upload", {
                "owner": OWNER, "category": CATEGORY, "documents": docs},
                {PARENT_HEADER: f"setup-upload:{sp['id']}"})
    else:
        status, body, _ = post(base, "/api/upload", {"owner": OWNER, "category": CATEGORY, "documents": docs})
    setup_s = time.perf_counter() - t0
    if status != 200:
        raise RuntimeError(f"set-up upload failed: {status} {body}")
    return {"setup_s": setup_s, "ids": [int(i) for i in body["document_ids"]]}


def _check_store(checker: Checker, setup: dict, failures: list[str]) -> None:
    stored = set(checker.index.doc.tolist())
    live = set(setup["ids"])
    if len(live) != len(setup["ids"]):
        failures.append("upload returned duplicate document ids")
    missing = live - stored
    if missing:
        failures.append(f"{len(missing)} uploaded documents have no stored vectors")
    if set(checker.index.doc_names) != live:
        failures.append("documents table does not hold exactly the live uploads")


def _warm_up(base, docs, checker, failures, args) -> None:
    """One untimed request per route shape, in parallel, so the window
    does not time first-request plan compilation (checked, not timed)."""
    reqs = session_requests(args.seed, 99, docs, 5)

    def send(path, body):
        status, out, _ = post(base, path, body)
        why = f"HTTP {status}: {out.get('error')}" if status != 200 else checker.check(path, body, out)
        if why is not None:
            failures.append(f"warm-up {path}: {why}")

    threads = [threading.Thread(target=send, args=r) for r in reqs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _window(base, docs, checker, tracer, rep, failures, args) -> None:
    n_clients = min(2, os.cpu_count() or 1)
    per_client = 4 if args.smoke else 10_000
    deadline = time.perf_counter() + args.seconds
    rep["window_start"] = time.perf_counter()

    def client(ix: int) -> None:
        reqs = session_requests(args.seed, ix, docs, per_client)
        for k, (path, body) in enumerate(reqs):
            if time.perf_counter() >= deadline and not args.smoke:
                break
            # traced runs alternate traced and untraced requests so the
            # tracing overhead is measured on the same server state
            traced = tracer.enabled and k % 2 == 1
            rid = f"c{ix}-{k}"
            t0 = time.perf_counter()
            if traced:
                with tracer.span(f"client.{path.rsplit('/', 1)[1]}", rid=rid) as sp:
                    status, out, nbytes = post(base, path, body, {PARENT_HEADER: f"{rid}:{sp['id']}"})
            else:
                status, out, nbytes = post(base, path, body)
            t1 = time.perf_counter()
            why = f"HTTP {status}: {out.get('error')}" if status != 200 else checker.check(path, body, out)
            pages = out.get("results", [out])
            rep["ops"].append({
                "route": path, "start": t0, "end": t1, "ms": (t1 - t0) * 1000.0,
                "status": status, "traced": traced, "rid": rid, "bytes": nbytes,
                "results": sum(len(p.get("documents", [])) for p in pages),
            })
            if why is not None:
                failures.append(f"{path} {json.dumps(body)[:120]}: {why}")

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    rep["window_end"] = time.perf_counter()
    rep["clients"] = n_clients
