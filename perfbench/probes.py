"""Wrappers the traced run installs around calls into each engine layer.

Each wrapper opens a span only on a thread that is serving a traced
request (see ``spans.Tracer.wrap``), so untraced requests of the same
run pass straight through. Everything is undone by ``uninstall``.
"""

from __future__ import annotations

import glob
import os
import threading

import pyarrow.parquet as pq

from spans import PARENT_HEADER, JobGroups, Tracer

SERVICE_ROUTES = ("upload", "search", "search_batch")


class _Patches:
    def __init__(self):
        self._undo: list = []

    def set(self, obj, attr: str, value) -> None:
        had = attr in getattr(obj, "__dict__", {})
        self._undo.append((obj, attr, getattr(obj, attr), had))
        setattr(obj, attr, value)

    def uninstall(self) -> None:
        for obj, attr, orig, had in reversed(self._undo):
            if had:
                setattr(obj, attr, orig)
            else:
                delattr(obj, attr)
        self._undo.clear()


def _time_collect(tracer: Tracer, name: str, df):
    """Make ``df.collect()`` record a span (the execution half of a
    lazily built plan)."""
    if df is None:
        return df
    orig = df.collect
    df.collect = tracer.wrap(name, orig)
    return df


class LockProxy:
    """Stands in for ``Service.lock`` and records the wait to acquire it."""

    def __init__(self, lock, tracer: Tracer):
        self._lock, self._t = lock, tracer

    def acquire(self, *a, **kw):
        if self._t.enabled and self._t.current() is not None:
            with self._t.span("service.lock_wait"):
                return self._lock.acquire(*a, **kw)
        return self._lock.acquire(*a, **kw)

    def release(self):
        return self._lock.release()

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *exc):
        self.release()
        return False


class _FooterRows:
    """Row counts of immutable store directories, from parquet footers."""

    def __init__(self):
        self._memo: dict[str, int] = {}
        self._lock = threading.Lock()

    def rows(self, path: str) -> int:
        with self._lock:
            hit = self._memo.get(path)
        if hit is None:
            hit = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            )
            with self._lock:
                self._memo[path] = hit
        return hit


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


class ServingProbes(_Patches):
    """Spans at the service, engine, cache and store boundaries of one
    served engine, plus one Spark job group per traced request."""

    def __init__(self, tracer: Tracer, srv, engine, groups: JobGroups):
        super().__init__()
        from go_vectorsearch_spark import api

        t = tracer
        self.footers = _FooterRows()
        handler = srv.RequestHandlerClass
        orig_handle = handler._handle

        def _handle(h):
            hdr = h.headers.get(PARENT_HEADER)
            if not (t.enabled and hdr):
                return orig_handle(h)
            rid, pid = hdr.rsplit(":", 1)
            t.attach(rid, int(pid))
            try:
                with t.span("service.http"):
                    return orig_handle(h)
            finally:
                t.detach()

        self.set(handler, "_handle", _handle)
        svc = handler.service
        for route in SERVICE_ROUTES:
            self.set(svc, route, self._route(t, groups, route, getattr(svc, route)))
        self.set(svc, "lock", LockProxy(svc.lock, t))

        for name in ("upload", "search", "search_many"):
            self.set(engine, name, t.wrap(f"api.{name}", getattr(engine, name)))
        for name in ("_embed_query", "_embed_queries"):
            self.set(engine, name, t.wrap("api.embed_query", getattr(engine, name)))
        for name in ("_next_id", "_get_or_create"):
            self.set(engine, name, t.wrap("api.id_alloc", getattr(engine, name)))
        self.set(engine, "_vector_topk", t.wrap(
            "api.probe_plan", getattr(engine, "_vector_topk"),
            on_result=lambda sp, df, a, kw: _time_collect(t, "api.probe_scan", df)))
        self.set(engine, "_vector_best_many", t.wrap("api.probe_plan", getattr(engine, "_vector_best_many")))
        for name in ("_hydrate_page", "_hydrate_pages_many"):
            self.set(engine, name, t.wrap(
                "api.hydrate_plan", getattr(engine, name),
                on_result=lambda sp, df, a, kw: _time_collect(t, "api.hydrate", df)))

        orig_rank = api._rank_probe_ids

        def _rank_probe_ids(*a, **kw):
            out = orig_rank(*a, **kw)
            t.add_attr("lists_probed", len(out))
            return out

        self.set(api, "_rank_probe_ids", _rank_probe_ids)
        if engine._cache is not None:
            self.set(engine._cache, "get", self._cache_get(t, engine._cache.get))
        for table in engine.t.values():
            self._table(t, table)

    @staticmethod
    def _route(t: Tracer, groups: JobGroups, route: str, fn):
        def wrapper(req):
            cur = t.current()
            if not t.enabled or cur is None:
                return fn(req)
            with t.span(f"service.{route}") as sp:
                groups.set(sp["rid"], route)
                try:
                    return fn(req)
                finally:
                    groups.clear()
                    sp["attrs"]["jobs"], sp["attrs"]["stages"], sp["attrs"]["tasks"] = groups.counts(sp["rid"])

        return wrapper

    @staticmethod
    def _cache_get(t: Tracer, get):
        def wrapper(key, loader):
            if not t.enabled or t.current() is None:
                return get(key, loader)
            loaded = []

            def timed_loader():
                loaded.append(1)
                with t.span("api.cache_load", kind=str(key[0])):
                    return loader()

            out = get(key, timed_loader)
            t.add_attr("cache_lookups", 1)
            t.add_attr("cache_hits", 0 if loaded else 1)
            return out

        return wrapper

    def _table(self, t: Tracer, table) -> None:
        orig_read, orig_commit, orig_write = table.read, table._commit, table._write_batch
        footers = self.footers

        def read(version=None, partition_values=None):
            if not t.enabled or t.current() is None:
                return orig_read(version=version, partition_values=partition_values)
            with t.span("store.read", table=table.name) as sp:
                out = orig_read(version=version, partition_values=partition_values)
            v = table._version() if version is None else version
            if v >= 0:
                parts = table._manifest(v)
                keys = sorted(parts) if partition_values is None else sorted(
                    {str(x) for x in partition_values} & parts.keys())
                dirs = [d for k in keys for d in parts[k]]
                sp["attrs"]["dirs"] = len(dirs)
                if table.name == "embeddings" and partition_values is not None:
                    rows = sum(footers.rows(os.path.join(table.dir, d)) for d in dirs)
                    t.add_attr("rows_scored", rows)
            return out

        def commit(v, parts, keep):
            if not t.enabled or t.current() is None:
                return orig_commit(v, parts, keep)
            with t.span("store.commit", table=table.name):
                return orig_commit(v, parts, keep)

        def write_batch(df, v):
            if not t.enabled or t.current() is None:
                return orig_write(df, v)
            with t.span("store.write", table=table.name) as sp:
                out = orig_write(df, v)
            sp["attrs"]["bytes"] = dir_bytes(os.path.join(table.dir, "_data", f"w{v}"))
            return out

        self.set(table, "read", read)
        self.set(table, "_commit", commit)
        self.set(table, "_write_batch", write_batch)


class PlanProbes(_Patches):
    """Spans around the IVF index build, which both workloads run (the
    registry's entry and build spans are opened by its workload)."""

    def __init__(self, tracer: Tracer):
        super().__init__()
        from go_vectorsearch_spark.plans import ivf

        self.set(ivf, "build_index", tracer.wrap("plans.ivf_build", ivf.build_index))

