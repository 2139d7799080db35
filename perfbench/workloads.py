"""The benchmark workloads.

Each workload builds its inputs from the seed, owns a `setup()` that makes
the engine-side state ready (repeated; the median is `setup_s`), and a
`cycle()` that yields one round of the fixed operation mix; the runner
repeats whole cycles, so every run measures the same mix. An operation is a
`(kind, call, check)` triple: `call` drives the library's public API and
returns its collected answer, `check` compares that answer with a NumPy /
pandas truth computed from the generated inputs and returns True when it
holds. The runner (run.py) times `call` only.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics

import numpy as np
import pandas as pd

import gen

DIMS = 32
K = 10
# Recall@10 floors per ANN mode: well under what these planted-cluster
# sizes give (traced runs report the mean as quality.recall_at_10), so a
# miss means a broken index, not an unlucky query.
RECALL_FLOOR = {
    "quantized_search": 0.5, "hnsw_search": 0.5, "ivf_search": 0.5,
    "sq_search": 0.8, "pq_search": 0.5,
}
SCORE_TOL = 1e-4


def _np_topk(x: np.ndarray, q: np.ndarray, k: int, mask=None) -> np.ndarray:
    """Row indices of the exact top-k cosine scores (unit rows), ties by index."""
    s = x.astype(np.float64) @ q.astype(np.float64)
    if mask is not None:
        s = np.where(mask, s, -np.inf)
    order = np.lexsort((np.arange(len(s)), -s))
    return order[:k], s


def _exact_ok(rows, ids: list[str], x: np.ndarray, q: np.ndarray, mask=None) -> bool:
    """Exact top-k check: the returned scores equal the true top-k scores,
    and each returned id's true score equals its returned score (so ids
    may differ only among exact ties)."""
    top, s = _np_topk(x, q, K, mask)
    pos = {i: n for n, i in enumerate(ids)}
    got = sorted((float(r["score"]) for r in rows), reverse=True)
    want = [float(s[i]) for i in top]
    if len(got) != len(want):
        return False
    if max(abs(a - b) for a, b in zip(got, want)) > SCORE_TOL:
        return False
    return all(abs(s[pos[r["id"]]] - float(r["score"])) <= SCORE_TOL for r in rows)


def _recall(rows, ids: list[str], x: np.ndarray, q: np.ndarray) -> float:
    top, _ = _np_topk(x, q, K)
    want = {ids[i] for i in top}
    return len(want & {r["id"] for r in rows}) / float(K)


class Workload:
    name = ""
    # whole cycles a run measures at least, however long one takes, so the
    # statistics of every run rest on the same number of samples per kind
    min_cycles = 1

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.extra: dict[str, list[float]] = {}  # per-layer samples

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(float(value))

    def prepare(self) -> None:
        """Untimed one-off work between set-up and the measured loop."""

    def rows(self, kind: str) -> int:
        """Rows one op of `kind` processes (for rows_per_s)."""
        return 1

    def reset_caches(self) -> None:
        """Drop the library's keyed persists so each setup repetition
        builds from scratch instead of hitting the previous one's."""
        from vettore_spark.plans import cache

        cache.clear()
        self.spark.catalog.clearCache()


class _VectorWorkload(Workload):
    """Shared collection plumbing for the vector workloads."""

    def prepare(self) -> None:
        """Ingest check, untimed: the collection holds exactly the rows
        put. A mismatch aborts the run, since every later answer would be
        checked against the wrong truth."""
        n = self.coll.df.count()
        if n != self.N:
            raise RuntimeError(f"ingest count mismatch: {n} rows, {self.N} put")

    def _frame(self, lo: int, hi: int):
        from vettore_spark.collection import EMBEDDING_SCHEMA

        return self.spark.createDataFrame(
            gen.embedding_rows(self.v, lo, hi), EMBEDDING_SCHEMA
        )


class SearchServe(_VectorWorkload):
    """Closed loop, one client: single-query requests over the fixed mode
    mix against a resident collection whose indexes are built before the
    loop."""

    name = "search_serve"
    min_cycles = 2
    N, CLUSTERS, QUERIES = 1500, 15, 64
    MODES = (
        "search", "search_where", "quantized_search", "hnsw_search",
        "ivf_search", "sq_search", "pq_search",
    )

    def __init__(self, *a):
        super().__init__(*a)
        self.v = gen.planted_vectors(self.seed, self.N, DIMS, self.CLUSTERS)
        self.q = gen.queries_near(self.seed + 1, self.v.centres, self.QUERIES)
        self.tier1 = np.array([int(l) % 4 == 1 for l in self.v.labels])
        self.coll = None
        self.reps = 0
        self.next_q = 0

    def setup(self) -> None:
        from vettore_spark.collection import Collection

        self.reps += 1
        self.coll = Collection.create(self.spark, f"serve{self.reps}", DIMS, metric="cosine")
        self.coll.put_many(self._frame(0, self.N))

    def prepare(self) -> None:
        """One untimed pass over every mode: builds each index on first
        use and runs each query shape once before it is timed."""
        super().prepare()
        probe = self.q[-1].tolist()
        for mode in self.MODES:
            self._query(self.coll, mode, probe)
        self.extra.clear()

    def _query(self, coll, mode: str, q: list[float]):
        """Facade call and action, timed apart (collection.plan_ms /
        collection.exec_ms)."""
        import time

        t0 = time.perf_counter()
        if mode == "search_where":
            df = coll.search(q, limit=K, where="metadata['tier'] = '1'")
        elif mode == "quantized_search":
            df = coll.quantized_search(q, limit=K, candidates=100)
        else:
            df = getattr(coll, mode)(q, limit=K)
        t1 = time.perf_counter()
        rows = df.collect()
        self.note("collection.plan_ms", (t1 - t0) * 1000)
        self.note("collection.exec_ms", (time.perf_counter() - t1) * 1000)
        return rows

    def cycle(self):
        for mode in self.MODES:
            q = self.q[self.next_q % len(self.q)]
            self.next_q += 1
            yield mode, self._call(mode, q), self._check(mode, q)

    def _call(self, mode, q):
        return lambda: self._query(self.coll, mode, q.tolist())

    def _check(self, mode, q):
        def check(rows) -> bool:
            if mode == "search":
                return _exact_ok(rows, self.v.ids, self.v.x, q)
            if mode == "search_where":
                return _exact_ok(rows, self.v.ids, self.v.x, q, self.tier1)
            r = _recall(rows, self.v.ids, self.v.x, q)
            self.note(f"recall.{mode}", r)
            return r >= RECALL_FLOOR[mode]

        return check



def _pairs_of(clusters) -> set[tuple[int, int]]:
    out = set()
    for g in clusters:
        for a in g:
            for b in g:
                if a < b:
                    out.add((a, b))
    return out


def _components(pairs) -> dict[int, int]:
    """Node -> minimum node id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class SearchBulk(_VectorWorkload):
    """Offline batch work: batched exact search, batched radius search, an
    exact self-kNN graph, MinHash + SimHash near-dup pairs -> connected
    components -> keep-canonical over a planted corpus, and availableNow
    replays of multi-file streams through the five heaviest stateful
    streaming operators (one micro-batch per file)."""

    name = "search_bulk"
    N, CLUSTERS, BATCH = 1000, 10, 64
    DOCS, DUP_CLUSTERS = 400, 30
    MIN_SCORE = 0.9
    PAIR_FLOOR = 0.9
    FILES = 2
    EVENTS, STREAM_DOCS, VECS, VDIM = 1500, 150, 400, 16
    WINDOW, KMV_K = 10, 64
    GATES = ("topk_per_key", "kmv_distinct", "funnel_stage", "moment_stats", "unit_dedup")
    # rows per stream file of each gate's source
    GATE_ROWS = {"topk_per_key": EVENTS, "kmv_distinct": EVENTS, "funnel_stage": EVENTS,
                 "moment_stats": VECS, "unit_dedup": STREAM_DOCS}

    def __init__(self, *a):
        super().__init__(*a)
        self.v = gen.planted_vectors(self.seed, self.N, DIMS, self.CLUSTERS)
        self.q = gen.queries_near(self.seed + 1, self.v.centres, self.BATCH)
        self.corpus = gen.neardup_corpus(self.seed + 2, self.DOCS, self.DUP_CLUSTERS)
        self.planted = _pairs_of(self.corpus.clusters)
        self.s = self.q.astype(np.float64) @ self.v.x.astype(np.float64).T
        self.coll = None
        self.docs = None
        self.found: set[tuple[int, int]] = set()
        self.reps = 0
        self.dirs = {k: os.path.join(self.work, k) for k in ("events", "docs", "vecs")}
        gen.event_stream(self.seed + 3, self.dirs["events"], self.FILES, self.EVENTS)
        gen.unit_doc_stream(self.seed + 4, self.dirs["docs"], self.FILES, self.STREAM_DOCS,
                            window=self.WINDOW)
        gen.vector_stream(self.seed + 5, self.dirs["vecs"], self.FILES, self.VECS,
                          dim=self.VDIM)
        ev = gen.read_dir(self.dirs["events"]).to_pandas()
        self.truth = {
            "topk_per_key": _topk_truth(ev),
            "kmv_distinct": _kmv_truth(ev, self.KMV_K),
            "funnel_stage": _funnel_truth(ev),
            "moment_stats": _moments_truth(gen.read_dir(self.dirs["vecs"]).to_pandas()),
            "unit_dedup": _units_truth(gen.read_dir(self.dirs["docs"]).to_pandas(),
                                       self.WINDOW),
        }
        # a stream's schema is declared once, like a deployed stream's
        self.schemas = {k: self.spark.read.parquet(d).schema for k, d in self.dirs.items()}
        self.plans = {}
        self.replays = 0
        self.progress: dict[str, list[dict]] = {}

    def setup(self) -> None:
        """Ingest the collection, cache the corpus, and build and analyze
        the five streaming plans."""
        from vettore_spark.collection import Collection
        from vettore_spark.streaming import stateful as S

        self.reps += 1
        coll = Collection.create(self.spark, f"bulk{self.reps}", DIMS, metric="cosine")
        coll.put_many(self._frame(0, self.N))
        docs = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": self.corpus.doc_ids, "text": self.corpus.texts})
        ).cache()
        docs.count()
        self.coll, self.docs = coll, docs
        self.plans = {
            "topk_per_key": (S.streaming_topk_per_key(self._source("events"), k=3), "update"),
            "kmv_distinct": (S.streaming_kmv_distinct(self._source("events"), k=self.KMV_K),
                             "update"),
            "funnel_stage": (S.streaming_funnel_stage(self._source("events")), "append"),
            "moment_stats": (S.streaming_moment_stats(self._source("vecs"), dim=self.VDIM),
                             "update"),
            "unit_dedup": (S.streaming_unit_dedup(self._source("docs"), window=self.WINDOW),
                           "append"),
        }
        for df, _ in self.plans.values():
            df.schema  # noqa: B018 — forces analysis

    def _source(self, kind: str):
        return (self.spark.readStream.schema(self.schemas[kind])
                .option("maxFilesPerTrigger", 1).parquet(self.dirs[kind]))

    def cycle(self):
        yield from self._bulk_steps()
        for gate in self.GATES:
            yield gate, self._replay(gate), self._check_replay(gate)

    def _bulk_steps(self):
        from vettore_spark.operators import ann, dedup

        qs = {f"q{i:03d}": self.q[i].tolist() for i in range(self.BATCH)}
        yield ("search_many", lambda: self.coll.search_many(qs, limit=K).collect(),
               self._check_many)
        yield ("range_search_many",
               lambda: self.coll.range_search_many(qs, min_score=self.MIN_SCORE).collect(),
               self._check_range)
        yield ("self_knn",
               lambda: ann.self_knn_topk(
                   self.coll.df, k=K, id_col="id", vector_col="vector").collect(),
               self._check_knn)
        self.found = set()
        yield ("minhash_lsh_pairs",
               lambda: dedup.minhash_lsh_pairs(self.docs).collect(),
               self._check_pairs)
        yield ("simhash_pairs", lambda: dedup.simhash_pairs(self.docs).collect(),
               lambda rows: self._check_pairs(rows) and self.pair_recall() >= self.PAIR_FLOOR)
        pairs = sorted(self.found)
        pairs_df = self.spark.createDataFrame(pairs, "doc_a long, doc_b long")
        truth = _components(pairs)
        yield ("connected_components",
               lambda: dedup.connected_components(pairs_df).collect(),
               lambda rows: {r["id"]: r["component"] for r in rows} == truth)
        keep = self.DOCS - sum(1 for n, c in truth.items() if n != c)
        yield ("keep_canonical",
               lambda: dedup.dedup_keep_canonical(self.docs, pairs_df).count(),
               lambda n: n == keep)

    def _check_many(self, rows) -> bool:
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        if len(by_q) != self.BATCH:
            return False
        ok = True
        for qid, got in by_q.items():
            i = int(qid[1:])
            ok &= _exact_ok(got, self.v.ids, self.v.x, self.q[i])
        return ok

    def _check_range(self, rows) -> bool:
        got = {(int(r["query_id"][1:]), r["id"]) for r in rows}
        qi, xi = np.nonzero(self.s >= self.MIN_SCORE + SCORE_TOL)
        must = {(int(a), self.v.ids[b]) for a, b in zip(qi, xi)}
        qi, xi = np.nonzero(self.s >= self.MIN_SCORE - SCORE_TOL)
        may = {(int(a), self.v.ids[b]) for a, b in zip(qi, xi)}
        return must <= got <= may

    def _check_knn(self, rows) -> bool:
        x = self.v.x.astype(np.float64)
        sims = x @ x.T
        got: dict[str, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["id"])
        hit = 0
        for i, vid in enumerate(self.v.ids):
            top = np.argsort(-sims[i], kind="stable")[:K]
            hit += len({self.v.ids[j] for j in top} & got.get(vid, set()))
        recall = hit / float(K * self.N)
        self.note("recall.self_knn", recall)
        return recall >= 0.99

    def pair_recall(self) -> float:
        return len(self.found & self.planted) / len(self.planted)

    def _check_pairs(self, rows) -> bool:
        """Every reported pair is planted; the MinHash + SimHash union's
        recall of the planted pairs is checked after the second step."""
        pairs = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])) for r in rows}
        self.found |= pairs
        self.note("pair_recall", self.pair_recall())
        return pairs <= self.planted

    def _replay(self, gate: str):
        def call():
            df, mode = self.plans[gate]
            self.replays += 1
            name = f"{gate}_{self.replays}"
            with self.tracer.span(f"streaming.{gate}.replay") as sp:
                q = (df.writeStream.outputMode(mode).trigger(availableNow=True)
                     .format("memory").queryName(name)
                     .option("checkpointLocation", os.path.join(self.work, "ck", name))
                     .start())
                if sp is not None:
                    sp.extra_groups.append(str(q.runId))
                if not q.awaitTermination(120):
                    q.stop()
                    raise TimeoutError(f"{gate} replay did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.progress.setdefault(gate, []).extend(q.recentProgress)
            rows = self.spark.table(name).collect()
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(os.path.join(self.work, "ck", name), ignore_errors=True)
            return rows

        return call

    def _check_replay(self, gate: str):
        return lambda rows: _FINAL[gate](rows) == self.truth[gate]

    def rows(self, kind: str) -> int:
        if kind in ("search_many", "range_search_many"):
            return self.BATCH
        if kind == "self_knn":
            return self.N
        if kind in self.GATE_ROWS:
            return self.FILES * self.GATE_ROWS[kind]
        return self.DOCS


def _h60(v) -> int:
    return int(hashlib.md5(str(v).encode("utf-8")).hexdigest()[:15], 16)


def _topk_truth(ev: pd.DataFrame) -> dict:
    s = ev.sort_values(["user_id", "value", "event_id"], ascending=[True, False, True])
    out = {}
    for uid, g in s.groupby("user_id"):
        for rank, (eid, val) in enumerate(zip(g["event_id"][:3], g["value"][:3]), 1):
            out[(int(uid), rank)] = (int(eid), float(val))
    return out


def _topk_final(rows) -> dict:
    best: dict = {}
    for r in rows:
        key = (int(r["user_id"]), int(r["rank"]))
        cand = (float(r["value"]), -int(r["event_id"]))
        if key not in best or cand > best[key]:
            best[key] = cand
    return {k: (-v[1], v[0]) for k, v in best.items()}


def _kmv_truth(ev: pd.DataFrame, k: int) -> dict:
    out = {}
    for grp, g in ev.groupby("event_type"):
        hs = sorted({_h60(u) for u in g["user_id"]})[:k]
        n = len(hs)
        out[grp] = (n, round(float(n) if n < k else (k - 1) * float(16 ** 15) / hs[-1], 3))
    return out


def _kmv_final(rows) -> dict:
    out: dict = {}
    for r in rows:
        cur = out.get(r["event_type"], (0, 0.0))
        out[r["event_type"]] = (max(cur[0], int(r["n_sketch"])),
                                max(cur[1], round(float(r["est_distinct"]), 3)))
    return out


def _funnel_truth(ev: pd.DataFrame) -> dict:
    out = {}
    for uid, g in ev.groupby("user_id"):
        stage = 0
        t1 = g.loc[g.event_type == "view", "ts"].min()
        if pd.notna(t1):
            stage = 1
            t2 = g.loc[(g.event_type == "click") & (g.ts > t1), "ts"].min()
            if pd.notna(t2):
                stage = 2
                if ((g.event_type == "purchase") & (g.ts > t2)).any():
                    stage = 3
        out[int(uid)] = stage
    return out


def _funnel_final(rows) -> dict:
    out: dict = {}
    for r in rows:
        out[int(r["user_id"])] = max(out.get(int(r["user_id"]), 0), int(r["stage"]))
    return out


def _moments_truth(vs: pd.DataFrame) -> dict:
    s = float(1 << 24)
    out = {}
    for lab, g in vs.groupby("label"):
        x = np.array([np.asarray(v, dtype=np.float64) for v in g["embedding"]])
        n = x.shape[0]
        sfx = np.floor(x * s + 0.5).astype(np.int64).sum(axis=0)
        qfx = np.floor(x * x * s + 0.5).astype(np.int64).sum(axis=0)
        acc_m = acc_v = 0.0
        for i in range(x.shape[1]):
            m_i = float(sfx[i]) / float(n) / s
            q_i = float(qfx[i]) / float(n) / s
            acc_m = acc_m + m_i * m_i
            acc_v = acc_v + (q_i - m_i * m_i)
        out[int(lab)] = (n, round(acc_m ** 0.5, 9), round(acc_v, 9))
    return out


def _moments_final(rows) -> dict:
    out: dict = {}
    for r in rows:
        key = int(r["label"])
        if key not in out or int(r["n"]) > out[key][0]:
            out[key] = (int(r["n"]), round(float(r["mean_norm"]), 9),
                        round(float(r["var_trace"]), 9))
    return out


def _units_truth(docs: pd.DataFrame, window: int) -> set:
    seen = set()
    out = set()
    for did, text in sorted(zip(docs["doc_id"], docs["text"])):
        toks = text.split(" ")
        for i in range(max(1, -(-len(toks) // window))):
            unit = " ".join(toks[i * window:(i + 1) * window])
            if unit not in seen:
                seen.add(unit)
                out.add((int(did), i, unit))
    return out


def _units_final(rows) -> set:
    return {(int(r["doc_id"]), int(r["unit_idx"]), r["unit"]) for r in rows}


_FINAL = {
    "topk_per_key": _topk_final, "kmv_distinct": _kmv_final,
    "funnel_stage": _funnel_final, "moment_stats": _moments_final,
    "unit_dedup": _units_final,
}

WORKLOADS = {w.name: w for w in (SearchServe, SearchBulk)}


def median_or_zero(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
