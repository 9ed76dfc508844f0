"""The benchmark's workloads: seeded inputs, request decks, answer checks.

Every workload drives the engine only through its public calls. Its
inputs come from the seed alone. The timed phase runs whole cycles of
the workload's deck: a fixed multiset of request kinds, in an order
the seed shuffles. Each cycle holds the same mix, so latency
percentiles over the mix do not drift with where a run happens to
stop. Every answer is checked against numpy (`reference.py`) or
against a shadow copy of the written state; a wrong answer counts as
a failed op.

Sizes are chosen so that one run (session start, set-up, warm-up and
the timed phase) fits the per-run time the benchmark allows, while
the timed phase still holds several dozen ops.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from unified_vector_database_spark import api
from unified_vector_database_spark.constants import BM25_B, BM25_K1
from unified_vector_database_spark.functions import distance as D
from unified_vector_database_spark.operators import (dedup, hnsw, hybrid,
                                                     index, knn)
from unified_vector_database_spark.sources.catalog import Collection

from . import reference as R

DIM = 64
LABELS = 16
ROW_BYTES = 8 + 4 + 4 * DIM  # vec_id bigint + label int + float32[DIM]
METRICS = ("cosine", "dot", "l2")
VEC_SCHEMA = "vec_id bigint, label int, embedding array<float>"


# --------------------------------------------------------------- inputs

def clustered_vectors(rng, n: int, n_clusters: int = 16) -> np.ndarray:
    """Gaussian clusters around random centres, the shape IVF cells
    assume; float32 like real embeddings."""
    centres = rng.standard_normal((n_clusters, DIM))
    pick = rng.integers(0, n_clusters, n)
    x = centres[pick] + 0.6 * rng.standard_normal((n, DIM))
    return x.astype(np.float32)


def vector_table(ids, labels, x) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), DIM).cast(pa.list_(pa.float32())),
    })


def vocabulary(n: int = 2000) -> list[str]:
    return [f"t{i}" for i in range(n)]


def gen_docs(rng, n: int, vocab: list[str],
             lengths: tuple[int, int] = (20, 61)) -> list[str]:
    """Docs of `lengths` tokens (half-open) drawn Zipf-like from `vocab`,
    so query terms have a spread of document frequencies."""
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    return [" ".join(rng.choice(vocab, int(rng.integers(*lengths)), p=p))
            for _ in range(n)]


def query_vector(rng, x: np.ndarray) -> list[float]:
    """A corpus vector plus noise, so the query has real neighbours."""
    base = x[int(rng.integers(0, len(x)))].astype(np.float64)
    return (base + 0.3 * rng.standard_normal(DIM)).tolist()


class Writes:
    """Bytes and files each commit writes under a collection directory:
    files that are new or changed since the previous look."""

    def __init__(self, path: str):
        self.path = path
        self.seen = self._files()
        self.commits: list[tuple[int, int]] = []  # (bytes, files)

    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def commit(self) -> int:
        now = self._files()
        new = [v[0] for k, v in now.items() if self.seen.get(k) != v]
        self.seen = now
        self.commits.append((sum(new), len(new)))
        return sum(new)

    def disk_bytes(self) -> int:
        return sum(v[0] for v in self._files().values())


# ---------------------------------------------------------------- base

class Workload:
    name = ""
    deck: tuple[str, ...] = ()
    reached: frozenset[str] = frozenset()  # layers its own ops call

    def __init__(self, scale: float = 1.0):
        self.scale = scale
        self.user_bytes = 0      # user data submitted by timed commits
        self.written_bytes = 0   # bytes those commits wrote
        self.setup_amp = None    # write amplification of the set-up load

    def size(self, n: int, floor: int) -> int:
        return max(floor, int(n * self.scale))

    def cycle(self, rng, warm: bool = False) -> list[tuple[str, object]]:
        """One cycle of the deck in seeded order. A warm-up cycle keeps
        the deck's listed order, so every run's JIT profiles the same
        first requests."""
        kinds = list(self.deck)
        if not warm:
            rng.shuffle(kinds)
        return [(k, self.request(k, rng)) for k in kinds]

    def after_cycle(self, tr) -> None:
        pass

    def finish(self, tr) -> dict[str, bool]:
        """Checks made once after the timed phase, by name."""
        return {}

    def live_rows(self) -> int:
        raise NotImplementedError

    def write_amp(self) -> float:
        if self.user_bytes:
            return self.written_bytes / self.user_bytes
        return self.setup_amp

    def space_amp(self) -> float:
        return self.writes.disk_bytes() / (self.live_rows() * ROW_BYTES)

    def load_collection(self, ctx, tr, name: str, table: pa.Table):
        """Create a collection and bulk-load `table` through one upsert."""
        inp = os.path.join(ctx.work, f"{name}_input.parquet")
        pq.write_table(table, inp)
        base = os.path.join(ctx.work, "collections")
        col = Collection.create(ctx.spark, base, name, id_col="vec_id",
                                dim=DIM)
        writes = Writes(col.path)
        with tr.span("catalog.upsert"):
            n = col.upsert(ctx.spark.read.parquet(inp))
        if n != table.num_rows:
            raise RuntimeError(f"bulk load committed {n} of "
                               f"{table.num_rows} rows")
        self.setup_amp = writes.commit() / (table.num_rows * ROW_BYTES)
        return col, writes


# -------------------------------------------------------------- search

class SearchLarge(Workload):
    """Flat k-NN and keyword search over a collection loaded in set-up.

    Kinds: cosine/dot/l2 top-10, label `must` and `must_not` filters,
    a `score_threshold` range, an `offset` page, `group_by`, a
    `search_batch`, get-by-id, `count`, a filtered scroll and BM25.
    Nine kinds score every row or a filtered share of it; get-by-id,
    count, scroll and BM25 score nothing. The distance fold is the
    largest single share of a cycle's engine time, but not most of it:
    README.md gives the measured split."""

    name = "search_large"
    n_rows = 20_000
    n_docs = 2_000
    # each kind once: there is no traffic to weight them by
    deck = ("cosine", "dot", "l2", "must", "must_not", "threshold",
            "offset", "group", "batch", "get", "count", "scroll", "bm25")
    metric_of = {"must": "cosine", "must_not": "l2", "threshold": "cosine",
                 "offset": "dot", "group": "cosine"}
    batch_specs = 3
    reached = frozenset({"api", "hybrid", "distance"})

    def setup(self, ctx, tr) -> None:
        rng = ctx.rng("data")
        n = self.size(self.n_rows, 200)
        self.x = clustered_vectors(rng, n)
        self.ids = np.arange(n, dtype=np.int64)
        self.labels = rng.integers(0, LABELS, n).astype(np.int32)
        self.x64 = self.x.astype(np.float64)
        self.col, self.writes = self.load_collection(
            ctx, tr, "corpus", vector_table(self.ids, self.labels, self.x))
        with tr.span("catalog.read"):
            self.corpus = self.col.read()
        self.vcorpus = self.corpus.select(
            "vec_id", D.vec_double("embedding").alias("vec"))
        self.spark = ctx.spark
        nd = self.size(self.n_docs, 200)
        self.vocab = vocabulary()
        texts = gen_docs(rng, nd, self.vocab)
        self.docs_dir = os.path.join(ctx.work, "docs")
        os.makedirs(self.docs_dir)
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts)}),
            os.path.join(self.docs_dir, "documents.parquet"))
        self.bm25 = R.BM25(range(nd), texts, BM25_K1, BM25_B)

    def live_rows(self) -> int:
        return len(self.ids)

    # ---- requests
    def request(self, kind: str, rng):
        """Each kind has a fixed metric and a fixed filter selectivity,
        so its cost does not vary with the seed."""
        q = query_vector(rng, self.x)
        metric = self.metric_of.get(kind)
        if kind in ("cosine", "dot", "l2"):
            return {"vector": q, "metric": kind, "limit": 10,
                    "with_payload": ["label"]}
        if kind == "must":
            labs = sorted(rng.choice(LABELS, 3, replace=False).tolist())
            half = len(self.ids) // 2
            lo = int(rng.integers(0, half))
            return {"vector": q, "metric": metric, "limit": 10,
                    "with_payload": ["label"],
                    "filter": {"must": [
                        {"key": "label", "any": labs},
                        {"key": "vec_id", "range": {"gte": lo,
                                                    "lt": lo + half}}]}}
        if kind == "must_not":
            return {"vector": q, "metric": metric, "limit": 10,
                    "with_payload": ["label"],
                    "filter": {"must_not": [
                        {"key": "label", "match": int(rng.integers(0, LABELS))}]}}
        if kind == "threshold":
            # halfway between two exact neighbouring scores, so no id
            # sits on the boundary
            s = R.ranked(R.scores(self.x64, np.array(q), metric),
                         R.ASCENDING[metric])
            r = int(rng.integers(3, 20))
            return {"vector": q, "metric": metric, "limit": 10,
                    "score_threshold": float((s[r - 1] + s[r]) / 2)}
        if kind == "offset":
            return {"vector": q, "metric": metric, "limit": 10,
                    "offset": int(rng.integers(1, 4)) * 10,
                    "with_payload": ["label"]}
        if kind == "group":
            return {"vector": q, "metric": metric, "limit": 4,
                    "group_by": {"key": "label", "group_size": 2}}
        if kind == "batch":
            return [{"vector": query_vector(rng, self.x),
                     "metric": METRICS[i % 3], "limit": 10,
                     "with_payload": ["label"]}
                    for i in range(self.batch_specs)]
        if kind == "get":
            return {"limit": 1, "with_payload": ["label", "embedding"],
                    "filter": {"must": [{"key": "vec_id", "match": int(
                        rng.integers(0, len(self.ids)))}]}}
        if kind == "count":
            return {"filter": {"must": [{"key": "label", "any": sorted(
                rng.choice(LABELS, 4, replace=False).tolist())}]}}
        if kind == "scroll":
            return {"limit": 10, "offset": int(rng.integers(0, 5)) * 10,
                    "with_payload": ["label"],
                    "filter": {"must_not": [
                        {"key": "label", "match": int(rng.integers(0, LABELS))}]}}
        if kind == "bm25":
            return tuple(str(t) for t in
                         rng.choice(self.vocab[5:300], 3, replace=False))
        raise ValueError(kind)

    # ---- engine calls
    def _api(self, tr, call, *args):
        with tr.span("api.compile"):
            df = call(self.corpus, *args)
        with tr.span("spark.collect"):
            return df.collect()

    def run(self, kind: str, req, tr):
        if kind in ("cosine", "dot", "l2", "must", "must_not", "threshold",
                    "offset", "group", "get", "scroll"):
            return self._api(tr, api.search, req)
        if kind == "batch":
            return self._api(tr, api.search_batch, req)
        if kind == "count":
            return self._api(tr, api.count, req)
        if kind == "bm25":
            with tr.span("hybrid.bm25"):
                df = (hybrid.bm25_scores(self.spark, self.docs_dir, req)
                      .orderBy(F.desc("score"), "doc_id").limit(10))
                with tr.span("spark.collect"):
                    return df.collect()
        raise ValueError(kind)

    # ---- answer checks
    def _mask(self, flt) -> np.ndarray:
        m = np.ones(len(self.ids), dtype=bool)
        for c in (flt or {}).get("must", ()):
            m &= self._cond(c)
        for c in (flt or {}).get("must_not", ()):
            m &= ~self._cond(c)
        return m

    def _cond(self, c) -> np.ndarray:
        col = self.ids if c["key"] == "vec_id" else self.labels
        if "match" in c:
            return col == c["match"]
        if "any" in c:
            return np.isin(col, c["any"])
        r, m = c["range"], np.ones(len(col), dtype=bool)
        for op, f in (("gte", np.greater_equal), ("gt", np.greater),
                      ("lte", np.less_equal), ("lt", np.less)):
            if op in r:
                m &= f(col, r[op])
        return m

    def _check_spec(self, spec, rows) -> bool:
        metric = spec.get("metric", "cosine")
        asc = R.ASCENDING[metric]
        m = self._mask(spec.get("filter"))
        s = R.scores(self.x64, np.array(spec["vector"]), metric)
        if "score_threshold" in spec:
            thr = spec["score_threshold"]
            m &= (s <= thr) if asc else (s >= thr)
        if "group_by" in spec:
            return R.check_groups(
                [(r.vec_id, r.label, r.score) for r in rows], self.ids[m],
                self.labels[m], s[m], spec["limit"],
                spec["group_by"]["group_size"], asc)
        if "label" in spec.get("with_payload", ()):
            if any(r.label != self.labels[r.vec_id] for r in rows):
                return False
        return R.check_page([r.vec_id for r in rows], [r.score for r in rows],
                            self.ids[m], s[m], spec.get("offset", 0),
                            spec["limit"], asc)

    def check(self, kind: str, req, rows) -> bool:
        if kind in ("cosine", "dot", "l2", "must", "must_not", "threshold",
                    "offset", "group"):
            return self._check_spec(req, rows)
        if kind == "batch":
            by_q: dict[int, list] = {i: [] for i in range(len(req))}
            for r in rows:
                if r.query_idx not in by_q:
                    return False
                by_q[r.query_idx].append(r)
            return all(self._check_spec(spec, by_q[i])
                       for i, spec in enumerate(req))
        if kind == "get":
            i = req["filter"]["must"][0]["match"]
            return (len(rows) == 1 and rows[0].vec_id == i
                    and rows[0].label == self.labels[i]
                    and np.array_equal(np.array(rows[0].embedding,
                                                dtype=np.float32), self.x[i]))
        if kind == "count":
            return (len(rows) == 1
                    and rows[0].n == int(self._mask(req["filter"]).sum()))
        if kind == "scroll":
            want = self.ids[self._mask(req["filter"])][
                req["offset"]:req["offset"] + req["limit"]]
            return ([r.vec_id for r in rows] == want.tolist()
                    and all(r.label == self.labels[r.vec_id] for r in rows))
        if kind == "bm25":
            exact = self.bm25.scores(req)
            ids = np.array(list(exact), dtype=np.int64)
            sc = np.array(list(exact.values()))
            return R.check_page([r.doc_id for r in rows],
                                [r.score for r in rows], ids, sc, 0, 10,
                                False, tol=1e-6)
        raise ValueError(kind)


# -------------------------------------------------------------- ingest

class Ingest(Workload):
    """Writes beside reads on a collection held at a constant size.

    Each cycle upserts a batch that is half overwrites and half new
    ids, deletes as many old ids, updates the label of a few rows,
    counts, and searches the new version. After each cycle `vacuum`
    drops every version but the current one. A shadow copy of the
    state checks every answer, and a final `Collection.open` reread
    checks every acknowledged write."""

    name = "ingest"
    n_rows = 5_000
    batch = 500
    n_update = 100
    deck = ("upsert", "delete", "update", "count", "search")
    reached = frozenset({"api", "catalog", "distance"})

    def setup(self, ctx, tr) -> None:
        rng = ctx.rng("data")
        n = self.size(self.n_rows, 400)
        self.batch = self.size(self.batch, 20)
        self.n_update = self.size(self.n_update, 4)
        x = clustered_vectors(rng, n)
        labels = rng.integers(0, LABELS, n).astype(np.int32)
        self.vec = {i: x[i] for i in range(n)}
        self.lab = {i: int(labels[i]) for i in range(n)}
        self.next_id = n
        self.spark = ctx.spark
        self.staged = os.path.join(ctx.work, "staged")
        os.makedirs(self.staged)
        self.n_staged = 0
        self.col, self.writes = self.load_collection(
            ctx, tr, "ingest", vector_table(np.arange(n), labels, x))
        self.base = os.path.join(ctx.work, "collections")

    def live_rows(self) -> int:
        return len(self.vec)

    def cycle(self, rng, warm: bool = False) -> list[tuple[str, object]]:
        live = np.fromiter(self.vec, dtype=np.int64)
        half = self.batch // 2
        over = rng.choice(live, half, replace=False)
        new = np.arange(self.next_id, self.next_id + half)
        self.next_id += half
        ids = np.concatenate([over, new])
        labels = rng.integers(0, LABELS, len(ids)).astype(np.int32)
        x = clustered_vectors(rng, len(ids))
        # the client stages the batch as a file, as load_collection does,
        # so the op times the engine's read and commit, not the
        # conversion that builds the request
        shutil.rmtree(self.staged)
        os.makedirs(self.staged)
        self.n_staged += 1
        path = os.path.join(self.staged, f"batch-{self.n_staged}.parquet")
        pq.write_table(vector_table(ids, labels, x), path)
        batch = (ids, labels, x, path)
        rest = np.setdiff1d(live, over)
        dele = rng.choice(rest, half, replace=False)
        upd = rng.choice(np.setdiff1d(rest, dele), self.n_update,
                         replace=False)
        pool = np.stack([self.vec[i] for i in rng.choice(rest, 256)])
        spec = {"vector": query_vector(rng, pool), "limit": 10,
                "metric": "cosine", "with_payload": ["label"]}
        return [("upsert", batch),
                ("delete", dele.tolist()),
                ("update", (upd.tolist(), int(rng.integers(0, LABELS)))),
                ("count", None),
                ("search", spec)]

    def run(self, kind: str, req, tr):
        c = self.col
        if kind == "upsert":
            with tr.span("catalog.upsert"):
                return c.upsert(self.spark.read.parquet(req[3]))
        if kind == "delete":
            with tr.span("catalog.delete"):
                return c.delete_ids(req)
        if kind == "update":
            ids, value = req
            with tr.span("catalog.update"):
                return c.update(F.col("vec_id").isin(ids), label=value)
        if kind == "count":
            with tr.span("catalog.count"):
                return c.count()
        if kind == "search":
            with tr.span("catalog.describe"):
                version = c.describe().version
            with tr.span("catalog.read"):
                corpus = c.read()
            with tr.span("api.compile"):
                df = api.search(corpus, req)
            with tr.span("spark.collect"):
                return version, df.collect()
        raise ValueError(kind)

    def _account(self, user_bytes: int) -> None:
        self.written_bytes += self.writes.commit()
        self.user_bytes += user_bytes
        self.version_after_write = self.col.describe().version

    def check(self, kind: str, req, res) -> bool:
        # a write that returned is acknowledged: the shadow takes it
        # whatever the check below decides
        if kind == "upsert":
            ids, labels, x, _path = req
            for i, lab, v in zip(ids.tolist(), labels.tolist(), x):
                self.vec[i], self.lab[i] = v, lab
            self._account(len(ids) * ROW_BYTES)
            return res == len(self.vec)
        if kind == "delete":
            for i in req:
                del self.vec[i], self.lab[i]
            self._account(8 * len(req))
            return res == len(self.vec)
        if kind == "update":
            ids, value = req
            for i in ids:
                self.lab[i] = value
            self._account(8 * len(ids) + 4)
            return res == len(self.vec)
        if kind == "count":
            return res == len(self.vec)
        if kind == "search":
            version, rows = res
            ids = np.fromiter(self.vec, dtype=np.int64)
            x64 = np.stack([self.vec[i] for i in ids]).astype(np.float64)
            s = R.scores(x64, np.array(req["vector"]), req["metric"])
            asc = R.ASCENDING[req["metric"]]
            return (version == self.version_after_write
                    and all(r.label == self.lab.get(r.vec_id) for r in rows)
                    and R.check_page([r.vec_id for r in rows],
                                     [r.score for r in rows], ids, s, 0, 10,
                                     asc))
        raise ValueError(kind)

    def after_cycle(self, tr) -> None:
        with tr.span("catalog.vacuum"):
            self.col.vacuum()

    def finish(self, tr) -> dict[str, bool]:
        """Reread every acknowledged write through a fresh handle."""
        col = Collection.open(self.spark, self.base, "ingest")
        with tr.span("catalog.read"):
            pdf = col.read().toPandas()
        got = {int(i): (int(l), np.asarray(v, dtype=np.float32))
               for i, l, v in zip(pdf.vec_id, pdf.label, pdf.embedding)}
        ok = (set(got) == set(self.vec)
              and all(got[i][0] == self.lab[i]
                      and np.array_equal(got[i][1], self.vec[i])
                      for i in self.vec))
        return {"reread": ok}

    @property
    def vcorpus(self):
        return self.col.read().select(
            "vec_id", D.vec_double("embedding").alias("vec"))


WORKLOADS = {w.name: w for w in (SearchLarge, Ingest)}


# ------------------------------------------------------------ coverage

IVF_NPROBE = 2
HNSW_QUERIES = 16
# the mean recall@10 the engine's own HNSW test requires against an
# exact scan (tests/test_hnsw.py::test_probe_recall_vs_flat)
HNSW_FLOOR = 0.8


def reachable(art: dict) -> set[int]:
    """Nodes the HNSW graph leads to from its top layer, following the
    edges of every layer."""
    out: dict[int, list[int]] = {}
    for e in art["adj"].values():
        for r in e.select("src", "dst").collect():
            out.setdefault(int(r.src), []).append(int(r.dst))
    seen = {int(r.vec_id) for r in art["tops"].collect()}
    todo = list(seen)
    while todo:
        for d in out.get(todo.pop(), ()):
            if d not in seen:
                seen.add(d)
                todo.append(d)
    return seen


def coverage(ctx, tr, wl: Workload) -> tuple[dict[str, bool], dict]:
    """Traced run only: call once, on small seeded inputs, each layer
    entry point the workload's own ops do not reach, so the traced run
    of every workload reports every per-layer metric. A layer's figure
    belongs to the workload that reaches it; the sizes here are fixed
    and small."""
    rng = ctx.rng("coverage")
    spark = ctx.spark
    ok: dict[str, bool] = {}
    x = clustered_vectors(rng, 256)
    x64 = x.astype(np.float64)
    ids = np.arange(len(x), dtype=np.int64)
    vdf = spark.createDataFrame([(int(i), v.tolist()) for i, v in
                                 zip(ids, x64)], "vec_id bigint, vec array<double>")
    queries = [query_vector(rng, x) for _ in range(HNSW_QUERIES)]
    qdf = spark.createDataFrame(list(enumerate(queries)),
                                "qid bigint, qvec array<double>")

    def topk_ok(rows, qid, q) -> bool:
        got = sorted((r for r in rows if r.qid == qid), key=lambda r: r.rank)
        s = R.scores(x64, np.array(q), "cosine")
        return R.check_page([r.vec_id for r in got], [r.score for r in got],
                            ids, s, 0, 10, False)

    if "knn" not in wl.reached:
        with tr.span("knn.batch_knn"):
            rows = knn.batch_knn(vdf, qdf, 10).collect()
        ok["batch_knn"] = all(topk_ok(rows, i, q)
                              for i, q in enumerate(queries))
    if "catalog" not in wl.reached:
        base = os.path.join(ctx.work, "coverage")
        col = Collection.create(spark, base, "cov", id_col="vec_id", dim=DIM)
        labels = rng.integers(0, LABELS, len(x))
        df = spark.createDataFrame(vector_table(ids, labels, x).to_pandas(),
                                   VEC_SCHEMA)
        with tr.span("catalog.upsert"):
            n1 = col.upsert(df)
        with tr.span("catalog.delete"):
            n2 = col.delete_ids(ids[:16].tolist())
        with tr.span("catalog.update"):
            n3 = col.update(F.col("vec_id") < 64, label=0)
        with tr.span("catalog.count"):
            n4 = col.count()
        with tr.span("catalog.describe"):
            m = col.describe()
        with tr.span("catalog.read"):
            n5 = col.read().where(F.col("label") == 0).count()
        want0 = 48 + int((labels[64:] == 0).sum())
        ok["catalog"] = ((n1, n2, n3, n4, m.version, n5)
                         == (256, 240, 240, 240, 3, want0))
    if "hybrid" not in wl.reached:
        vocab = vocabulary()
        texts = gen_docs(rng, 500, vocab)
        ddir = os.path.join(ctx.work, "coverage_docs")
        os.makedirs(ddir)
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(500)),
                                 "text": pa.array(texts)}),
                       os.path.join(ddir, "documents.parquet"))
        terms = ("t7", "t30", "t90")
        with tr.span("hybrid.bm25"):
            rows = (hybrid.bm25_scores(spark, ddir, terms)
                    .orderBy(F.desc("score"), "doc_id").limit(10).collect())
        exact = R.BM25(range(500), texts, BM25_K1, BM25_B).scores(terms)
        ok["bm25"] = R.check_page([r.doc_id for r in rows],
                                  [r.score for r in rows],
                                  np.array(list(exact)),
                                  np.array(list(exact.values())), 0, 10,
                                  False, tol=1e-6)
    # IVF, HNSW and near-dup clustering: no workload reaches them in
    # its timed phase, so every traced run measures them here
    with tr.span("index.kmeans_fit"):
        cents = index.kmeans_fit(vdf, k=4).cache()
        cents.count()
    with tr.span("index.assign_cells"):
        cells = index.assign_cells(vdf, cents).cache()
        cells.count()
    # IVF is checked exactly: the answer must be the exact top 10 of
    # the vectors in the `nprobe` cells whose centroids are nearest the
    # query (l2, ties by cell id), as the engine assigned the cells.
    # Recall against the whole corpus is reported, not checked.
    cvec = {r.cid: np.array(r.cvec) for r in cents.collect()}
    cell_of = dict(cells.select("vec_id", "cid").collect())
    cell = np.array([cell_of.get(int(i), -1) for i in ids])
    ivf_rec = []
    for i, q in enumerate(queries[:2]):
        qv = spark.createDataFrame([(q,)], "qvec array<double>")
        with tr.span("index.ivf_probe"):
            rows = index.ivf_probe(vdf, cents, cells, qv, 10,
                                   nprobe=IVF_NPROBE).collect()
        s = R.scores(x64, np.array(q), "cosine")
        ivf_rec.append(R.recall([r.vec_id for r in rows], ids, s, 10,
                                False))
        near = sorted(cvec, key=lambda c: (
            float(np.sqrt(((cvec[c] - np.array(q)) ** 2).sum())), c))
        m = np.isin(cell, near[:IVF_NPROBE])
        ok[f"ivf_probe{i}"] = R.check_page(
            [r.vec_id for r in rows], [r.score for r in rows], ids[m], s[m],
            0, 10, False)
    with tr.span("hnsw.build"):
        art = hnsw.hnsw_build(spark, vdf)
    with tr.span("hnsw.probe_batch"):
        rows = hnsw.hnsw_probe_batch(spark, vdf, art, qdf, 10).collect()
    # A beam search can only return nodes its graph leads to from the
    # top layer. The floor checks that the search finds the best of
    # those; `hnsw.recall_at_10` measures against every node, so a
    # graph that leaves nodes unreachable shows there.
    reach = reachable(art)
    m = np.isin(ids, list(reach))
    rec, rec_reach = [], []
    for i, q in enumerate(queries):
        got = [r.vec_id for r in rows if r.qid == i]
        s = R.scores(x64, np.array(q), "cosine")
        rec.append(R.recall(got, ids, s, 10, False))
        rec_reach.append(R.recall(got, ids[m], s[m], 10, False))
        ok[f"hnsw_rows{i}"] = (set(got) <= reach and R.check_page(
            got, [r.score for r in rows if r.qid == i],
            ids[np.isin(ids, got)], s[np.isin(ids, got)], 0, len(got),
            False))
    ok["hnsw_recall_floor"] = float(np.mean(rec_reach)) >= HNSW_FLOOR
    recalls = {"index.recall_at_10": float(np.mean(ivf_rec)),
               "hnsw.recall_at_10": float(np.mean(rec)),
               "hnsw.reachable_share": len(reach) / len(ids)}
    vocab = vocabulary()
    # doc j+1 := doc j with its last token changed: 3-gram Jaccard >= 0.95
    # at 40+ tokens, where 4 LSH bands of 2 rows miss a pair with
    # probability about 1e-4 (a middle-token edit, Jaccard about 0.7, is
    # missed about 6% of the time)
    texts = gen_docs(rng, 300, vocab, lengths=(40, 61))
    planted = []
    for j in range(0, 60, 2):
        toks = texts[j].split(" ")
        toks[-1] = "dupmark"
        texts[j + 1] = " ".join(toks)
        planted.append((j, j + 1))
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id bigint, text string")
    with tr.span("dedup.verified_edges"):
        edges = dedup.verified_edges(docs).localCheckpoint()
    with tr.span("dedup.connected_components"):
        comp = {r.id: r.label for r in
                dedup.connected_components(edges).collect()}
    ok["dedup_planted_pairs"] = all(a in comp and comp.get(a) == comp.get(b)
                                    for a, b in planted)
    shutil.rmtree(os.path.join(ctx.work, "coverage"), ignore_errors=True)
    return ok, recalls
