"""The three workloads: seeded inputs, a timed pass, a traced pass, checks.

Each workload calls the engine only through its public functions.  A
timed pass runs with tracing off; a traced pass wraps each layer's calls
in a Spark job group (``Tracer.layer``) and materializes the layer's
output, so the event log attributes every task to one layer.  Checks run
after the timed passes and are never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dedup_gpu_stream_parallelism_spark.config import DedupConfig
from dedup_gpu_stream_parallelism_spark.functions.signatures import sign_documents
from dedup_gpu_stream_parallelism_spark.operators import cluster as cluster_op
from dedup_gpu_stream_parallelism_spark.operators import exact as exact_op
from dedup_gpu_stream_parallelism_spark.operators import lsh as lsh_op
from dedup_gpu_stream_parallelism_spark.operators import store as store_op
from dedup_gpu_stream_parallelism_spark.operators import verify as verify_op
from dedup_gpu_stream_parallelism_spark.plans.pipeline import run_pipeline
from dedup_gpu_stream_parallelism_spark.sources.corpus import generate_corpus
from dedup_gpu_stream_parallelism_spark.streaming.dedup_stream import NearDupStream
from perfbench.metrics import summarize

AUX_GROUP = "aux"  # bookkeeping jobs of a traced pass; no layer's time
CACHE_ENTRIES = 12  # cached input sets kept under .perfbench/inputs


def _write_docs(path: str, rows: list[dict], id_col: str, text_col: str) -> None:
    pq.write_table(
        pa.table(
            {
                id_col: pa.array([r["file_id"] for r in rows], pa.int64()),
                text_col: pa.array([r["content"] for r in rows], pa.string()),
            }
        ),
        path,
    )


def _parquet_rows(path: str) -> int:
    """Row count of a written parquet dir, from footers only."""
    return pq.read_table(path, columns=[]).num_rows


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) of the parquet files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(root, n))
    return total, files


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@dataclass
class Check:
    name: str
    ok: bool
    detail: object = None


@dataclass
class Pass:
    """One timed pass: its wall time, per-result latencies and outputs."""

    wall_s: float
    latencies: list[float]
    out: dict = field(default_factory=dict)


class Tracer:
    """Spans and row counts around each layer's calls in a traced pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, float] = {}
        self.rows_in: dict[str, int] = {}
        self.rows_out: dict[str, int] = {}
        self.extras: dict[str, float] = {}
        self.sc.setJobGroup(AUX_GROUP, AUX_GROUP)

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setJobGroup(AUX_GROUP, AUX_GROUP)

    def rows(self, name: str, n_in: int, n_out: int) -> None:
        self.rows_in[name] = self.rows_in.get(name, 0) + n_in
        self.rows_out[name] = self.rows_out.get(name, 0) + n_out

    def wall_s(self) -> float:
        return sum(self.spans.values())


class Expected:
    """Digests recorded per (workload, size, seed): the committed table
    first, then the local record, which learns seeds it has not seen."""

    def __init__(self, committed: str, local: str):
        self.local_path = local
        self.committed = self._load(committed)
        self.local = self._load(local)

    @staticmethod
    def _load(path: str) -> dict:
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def check(self, key: str, digest: str) -> Check:
        for source, table in (("committed", self.committed), ("local", self.local)):
            if key in table:
                return Check("digest_" + source, table[key] == digest, digest)
        self.local[key] = digest
        tmp = self.local_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.local, f, indent=1, sort_keys=True)
        os.replace(tmp, self.local_path)
        return Check("digest_recorded", True, digest)


class Workload:
    """Interface of a workload; the sizes are part of its definition."""

    name = ""
    min_passes = 1

    def __init__(self, seed: int, cache_dir: str, work_dir: str):
        self.seed = seed
        self.cfg = DedupConfig()
        self.work = work_dir
        self.input_dir = os.path.join(cache_dir, f"{self.name}_{self.size_key()}_{seed}")
        self.meta = self._cached_inputs()

    def size_key(self) -> str:
        raise NotImplementedError

    def _cached_inputs(self) -> dict:
        meta_path = os.path.join(self.input_dir, "meta.json")
        if os.path.exists(meta_path):
            os.utime(meta_path)
            with open(meta_path) as f:
                return json.load(f)
        tmp = self.input_dir + f".tmp{os.getpid()}"
        _fresh(tmp)
        meta = self.make_inputs(tmp, self.seed)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(self.input_dir, ignore_errors=True)
        os.replace(tmp, self.input_dir)
        self._prune_cache()
        return meta

    def _prune_cache(self) -> None:
        """Keep the ``CACHE_ENTRIES`` most recently used input sets."""
        cache = os.path.dirname(self.input_dir)
        used = []
        for name in os.listdir(cache):
            meta = os.path.join(cache, name, "meta.json")
            if os.path.exists(meta):
                used.append((os.path.getmtime(meta), name))
        for _mtime, name in sorted(used, reverse=True)[CACHE_ENTRIES:]:
            shutil.rmtree(os.path.join(cache, name), ignore_errors=True)

    def make_inputs(self, out_dir: str, seed: int) -> dict:
        raise NotImplementedError

    def warm(self, spark) -> None:
        """One untimed pass.  A full pass on the real input: smaller inputs
        leave the next passes still speeding up as the JIT settles."""
        self.run(spark)

    def text_mb(self) -> float:
        return self.meta["text_mb"]

    def details(self, passes: list[Pass]) -> dict[str, tuple]:
        """Workload-specific results, ``name -> (value, unit)``."""
        return {}

    def input_record(self) -> dict:
        rec = dict(self.meta)
        if "hard_pairs" in rec:
            rec["hard_pairs"] = {k: len(v) for k, v in rec["hard_pairs"].items()}
        return rec


# ---------------------------------------------------------------- near dup


class NearDupBatch(Workload):
    """The body of ``jobs/near_dup_job.py``: ``run_pipeline`` with the star
    pair strategy and the default (per-stage) materialization, then the
    cluster write."""

    name = "near_dup_batch"
    n_files = 10_000
    min_passes = 3

    def size_key(self) -> str:
        return str(self.n_files)

    def make_inputs(self, out_dir: str, seed: int) -> dict:
        rows, truth = generate_corpus(self.n_files, seed=seed)
        _write_docs(os.path.join(out_dir, "docs.parquet"), rows, "file_id", "content")
        by_kind: dict[str, list] = {}
        for a, b, kind in truth.pairs:
            if kind != "near0.15":  # sub-threshold by design, as in recall_check
                by_kind.setdefault(kind, []).append((a, b))
        return {
            "n_files": len(rows),
            "text_mb": sum(len(r["content"]) for r in rows) / 1e6,
            "planted_pairs": len(truth.pairs),
            "hard_pairs": by_kind,
        }

    def run(self, spark) -> Pass:
        out = os.path.join(self.work, "clusters")
        t0 = time.perf_counter()
        res = run_pipeline(
            spark.read.parquet(os.path.join(self.input_dir, "docs.parquet")), self.cfg,
            id_col="file_id", text_col="content", pair_strategy="star",
        )
        res.clusters.write.mode("overwrite").parquet(out)
        wall = time.perf_counter() - t0
        return Pass(wall, [wall], {"digest": self._digest(out)})

    @staticmethod
    def _clusters(out: str) -> tuple[np.ndarray, np.ndarray]:
        t = pq.read_table(out, columns=["doc_id", "cluster_id"])
        ids = t.column("doc_id").to_numpy()
        order = np.argsort(ids, kind="stable")
        return ids[order].astype("<i8"), t.column("cluster_id").to_numpy()[order].astype("<i8")

    def _digest(self, out: str) -> str:
        ids, cl = self._clusters(out)
        return hashlib.sha256(ids.tobytes() + cl.tobytes()).hexdigest()

    def recall(self) -> dict:
        """Planted-pair recall as in ``scripts/recall_check.py``, overall
        and per kind, with the hits behind each ratio."""
        ids, cl = self._clusters(os.path.join(self.work, "clusters"))
        by_id = np.full(self.meta["n_files"], -1, dtype=np.int64)
        by_id[ids] = cl
        hits = {}
        for kind, pairs in self.meta["hard_pairs"].items():
            ab = np.asarray(pairs, dtype=np.int64).reshape(-1, 2)
            hits[kind] = (int(np.sum(by_id[ab[:, 0]] == by_id[ab[:, 1]])), len(ab))

        def ratio(kinds):
            hit = sum(hits[k][0] for k in kinds)
            return hit / max(1, sum(hits[k][1] for k in kinds))

        return {
            "recall": ratio(hits),
            "recall_without_substring": ratio([k for k in hits if k != "substring"]),
            "recall_by_kind": {k: [h, n] for k, (h, n) in hits.items()},
        }

    def checks(self, spark, passes: list[Pass], expected: Expected) -> list[Check]:
        if not passes:
            return []
        digests = {p.out["digest"] for p in passes}
        q = self.recall()
        # Substring pairs are found only when a whole CDC chunk falls inside
        # the shared block, which depends on the seed: on some seeds none
        # is found.  The digest pins them; the recall bound holds for the
        # kinds the signatures are built to find.
        return [
            Check("passes_agree", len(digests) == 1, sorted(digests)),
            Check("recall_ge_0.99", q["recall_without_substring"] >= 0.99, q),
            expected.check(
                f"{self.name}:{self.size_key()}:{self.seed}", passes[-1].out["digest"]
            ),
        ]

    def details(self, passes: list[Pass]) -> dict[str, tuple]:
        q = self.recall()
        return {
            "recall": (q["recall"], "ratio"),
            "recall_without_substring": (q["recall_without_substring"], "ratio"),
        }

    def traced(self, spark, tr: Tracer) -> dict:
        cfg = self.cfg
        n = self.meta["n_files"]
        out = os.path.join(self.work, "clusters_traced")
        with tr.layer("signatures"):
            docs = spark.read.parquet(os.path.join(self.input_dir, "docs.parquet")).select(
                F.col("file_id").alias("doc_id").cast("bigint"), F.col("content").alias("text")
            )
            parallelism = spark.sparkContext.defaultParallelism
            if docs.rdd.getNumPartitions() < parallelism:
                docs = docs.repartition(parallelism)
            signed = sign_documents(docs, text_col="text", cfg=cfg, with_chunk_keys=True)
            signed = signed.withColumn("partition_id", F.spark_partition_id())
            banded = lsh_op.all_candidate_keys(signed, cfg).localCheckpoint()
            n_banded = banded.count()
        tr.rows("signatures", n, n_banded)
        with tr.layer("exact"):
            exact = exact_op.exact_dup_clusters(docs, "doc_id", "text").localCheckpoint()
            tr.rows("exact", n, exact.count())
        with tr.layer("lsh"):
            cands = lsh_op.candidate_pairs(banded, cfg, strategy="star").localCheckpoint()
            n_cands = cands.count()
        tr.rows("lsh", n_banded, n_cands)
        with tr.layer("verify"):
            confirmed = verify_op.confirm_pairs(
                cands, docs, cfg, id_col="doc_id", text_col="text"
            ).localCheckpoint()
            tr.rows("verify", n_cands, confirmed.count())
        exact_edges = exact.where(F.col("is_duplicate") == 1).select(
            F.col("cluster_id").alias("a_id"), F.col("doc_id").alias("b_id")
        )
        edges = (
            confirmed.where(F.col("confirmed") == 1).select("a_id", "b_id").unionByName(exact_edges)
        )
        with tr.layer("cluster"):
            clusters = cluster_op.clusters_from_pairs(docs, edges, id_col="doc_id").orderBy("doc_id")
            clusters.write.mode("overwrite").parquet(out)
        wall = tr.wall_s()
        n_edges = edges.count()
        n_confirmed = confirmed.where(F.col("confirmed") == 1).count()
        max_bucket = banded.groupBy("band_key").count().agg(F.max("count")).first()[0]
        _ids, cl = self._clusters(out)
        tr.rows("cluster", n_edges, len(cl))
        tr.extras.update(
            {
                "lsh.pairs_out": n_cands,
                "lsh.max_bucket": max_bucket or 0,
                "verify.confirm_ratio": n_confirmed / n_cands if n_cands else 0.0,
                "cluster.edges_in": n_edges,
                "cluster.clusters_out": len(np.unique(cl)),
            }
        )
        return {"wall_s": wall, "digest": self._digest(out)}


# ----------------------------------------------------------- encode append


class EncodeAppend(Workload):
    """The body of ``jobs/encode_store_job.py`` in two generations: a full
    encode of the first half, then an append of the second half against
    generation 0, then the cumulative ``chunk_store_stats``."""

    name = "encode_append"
    n_files = 32_000
    min_passes = 3

    def size_key(self) -> str:
        return str(self.n_files)

    def make_inputs(self, out_dir: str, seed: int) -> dict:
        rows, truth = generate_corpus(self.n_files, seed=seed)
        half = len(rows) // 2
        _write_docs(os.path.join(out_dir, "gen0.parquet"), rows[:half], "file_id", "content")
        _write_docs(os.path.join(out_dir, "gen1.parquet"), rows[half:], "file_id", "content")
        return {
            "n_files": len(rows),
            "text_mb": sum(len(r["content"]) for r in rows) / 1e6,
            "planted_pairs": len(truth.pairs),
        }

    def run(self, spark) -> Pass:
        return self._pass(spark, self.input_dir, os.path.join(self.work, "out"), None)

    def _pass(self, spark, in_dir: str, out: str, tr: Tracer | None) -> Pass:
        """Both generations; with ``tr`` each call sits in its layer's span."""

        def layer(name):
            return tr.layer(name) if tr else nullcontext()

        def docs(g):
            return spark.read.parquet(os.path.join(in_dir, f"gen{g}.parquet"))

        def path(g, sub):
            return os.path.join(out, f"gen{g}", sub)

        t0 = time.perf_counter()
        with layer("chunk"):
            manifest, store = store_op.chunk_encode_store(
                docs(0), self.cfg, id_col="file_id", text_col="content", persist=True
            )
            manifest.write.mode("overwrite").parquet(path(0, "chunk_manifest"))
        with layer("store"):
            store.write.mode("overwrite").parquet(path(0, "chunk_store"))
        with layer("exact"):
            exact_op.dedup_manifest(docs(0), "file_id", "content").write.mode(
                "overwrite"
            ).parquet(path(0, "doc_manifest"))
        with layer("chunk"):
            manifest1, novel = store_op.chunk_store_increment(
                spark.read.parquet(path(0, "chunk_store")), docs(1), self.cfg,
                id_col="file_id", text_col="content", persist=True,
            )
            manifest1.write.mode("overwrite").parquet(path(1, "chunk_manifest"))
        with layer("store"):
            novel.write.mode("overwrite").parquet(path(1, "chunk_store"))
        with layer("exact"):
            exact_op.dedup_increment(
                spark.read.parquet(path(0, "doc_manifest")), docs(1), "file_id", "content"
            ).write.mode("overwrite").parquet(path(1, "doc_manifest"))
        with layer("store"):
            stats = store_op.chunk_store_stats(
                self._both(spark, out, "chunk_manifest"), self._both(spark, out, "chunk_store")
            ).first().asDict()
        store_op.release_chunk_cache()
        wall = time.perf_counter() - t0
        return Pass(wall, [wall], {"stats": stats, "out": out})

    @staticmethod
    def _both(spark, out: str, sub: str):
        """Generation 0 ∪ generation 1 of one output table."""
        return spark.read.parquet(os.path.join(out, "gen0", sub)).unionByName(
            spark.read.parquet(os.path.join(out, "gen1", sub))
        )

    def details(self, passes: list[Pass]) -> dict[str, tuple]:
        return {"space_saving_factor": (passes[-1].out["stats"]["space_saving_factor"], "ratio")}

    def checks(self, spark, passes: list[Pass], expected: Expected) -> list[Check]:
        if not passes:
            return []
        out = passes[-1].out["out"]
        stats = {json.dumps(p.out["stats"], sort_keys=True) for p in passes}
        inputs = [os.path.join(self.input_dir, f"gen{g}.parquet") for g in (0, 1)]
        decoded = store_op.chunk_decode(
            self._both(spark, out, "chunk_manifest"), self._both(spark, out, "chunk_store")
        )
        got = {r[0]: r[1] for r in decoded.select("doc_id", F.sha2("text", 256)).collect()}
        t = pa.concat_tables([pq.read_table(p) for p in inputs])
        want = {
            i: hashlib.sha256(text.encode()).hexdigest()
            for i, text in zip(t.column("file_id").to_pylist(), t.column("content").to_pylist())
        }
        # an empty doc has no chunks, so it is absent from the decode
        empty = hashlib.sha256(b"").hexdigest()
        bad = [i for i, sha in want.items() if got.get(i, empty) != sha]
        bad += [i for i in got if i not in want]
        docs = spark.read.parquet(*inputs)
        oneshot = store_op.chunk_store_stats(
            *store_op.chunk_encode_store(docs, self.cfg, id_col="file_id", text_col="content")
        ).first()["space_saving_factor"]
        ssf = passes[-1].out["stats"]["space_saving_factor"]
        return [
            Check("passes_agree", len(stats) == 1, len(stats)),
            Check("decode_sha256_all_docs", not bad, len(bad)),
            Check("ssf_equals_one_shot", ssf == oneshot, [ssf, oneshot]),
            expected.check(
                f"{self.name}:{self.size_key()}:{self.seed}",
                json.dumps(passes[-1].out["stats"], sort_keys=True),
            ),
        ]

    def traced(self, spark, tr: Tracer) -> dict:
        res = self._pass(spark, self.input_dir, os.path.join(self.work, "out_traced"), tr)
        out = res.out["out"]
        n0 = _parquet_rows(os.path.join(self.input_dir, "gen0.parquet"))
        n1 = _parquet_rows(os.path.join(self.input_dir, "gen1.parquet"))
        rows = {
            (g, sub): _parquet_rows(os.path.join(out, f"gen{g}", sub))
            for g in (0, 1)
            for sub in ("chunk_manifest", "chunk_store", "doc_manifest")
        }
        refs = rows[0, "chunk_manifest"] + rows[1, "chunk_manifest"]
        tr.rows("chunk", n0 + n1, refs)
        tr.rows("store", refs, rows[0, "chunk_store"] + rows[1, "chunk_store"])
        tr.rows("exact", n0 + n1, rows[0, "doc_manifest"] + rows[1, "doc_manifest"])
        shas1 = pq.read_table(os.path.join(out, "gen1", "chunk_manifest"), columns=["chunk_sha"])
        distinct1 = len(set(shas1.column("chunk_sha").to_pylist()))
        stats = res.out["stats"]
        tr.extras.update(
            {
                "store.unique_ratio": stats["n_unique_chunks"] / stats["n_chunk_refs"],
                "store.novel_ratio": rows[1, "chunk_store"] / distinct1 if distinct1 else 0.0,
            }
        )
        return {"wall_s": tr.wall_s(), "stats": stats}


# ---------------------------------------------------------- stream confirm


class StreamConfirm(Workload):
    """``NearDupStream(confirm=True)`` on a file source with
    ``maxFilesPerTrigger=1``: one pass replays ``triggers`` micro-batches
    of ``per_trigger`` docs, staged from a seeded permutation of the
    corpus (the generator writes every base file before its duplicates,
    so id-range slices would make early and late triggers differ)."""

    name = "stream_confirm"
    per_trigger = 500
    triggers = 10
    warm_triggers = (2, 50)
    compact_every = 4
    n_buckets = 8
    min_passes = 1

    def size_key(self) -> str:
        return f"{self.triggers}x{self.per_trigger}"

    def make_inputs(self, out_dir: str, seed: int, shape: tuple[int, int] | None = None) -> dict:
        triggers, per = shape or (self.triggers, self.per_trigger)
        n = triggers * per
        rows, truth = generate_corpus(n, seed=seed)
        order = list(range(n))
        random.Random(seed).shuffle(order)
        src = _fresh(os.path.join(out_dir, "src"))
        t_first = time.time() - 3600
        for i in range(triggers):
            batch = [rows[j] for j in order[i * per:(i + 1) * per]]
            p = os.path.join(src, f"{i:04d}.parquet")
            _write_docs(p, batch, "doc_id", "text")
            # strictly ascending mtimes: the file source replays oldest first
            os.utime(p, (t_first + i, t_first + i))
        return {
            "n_files": n,
            "text_mb": sum(len(r["content"]) for r in rows) / 1e6,
            "planted_pairs": len(truth.pairs),
            "triggers": triggers,
            "docs_per_trigger": per,
        }

    def warm(self, spark) -> None:
        d = _fresh(os.path.join(self.work, "warm_inputs"))
        self.make_inputs(d, self.seed + 1, self.warm_triggers)
        self._pass(spark, os.path.join(d, "src"), os.path.join(self.work, "warm_stream"))

    def _stream(self, spark, src: str, work: str) -> tuple[NearDupStream, object]:
        nds = NearDupStream(
            os.path.join(work, "index"), os.path.join(work, "matches"), self.cfg,
            confirm=True, n_buckets=self.n_buckets, compact_every=self.compact_every,
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .repartition(spark.sparkContext.defaultParallelism)
        )
        return nds, stream

    def _run_query(self, nds, stream, work: str) -> tuple[float, list[dict]]:
        t0 = time.perf_counter()
        q = nds.attach(stream, os.path.join(work, "checkpoint")).start()
        try:
            done = q.awaitTermination(150)
        finally:
            if q.isActive:
                q.stop()
        wall = time.perf_counter() - t0
        if not done:
            raise TimeoutError("stream replay did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def _pass(self, spark, src: str, work: str) -> Pass:
        _fresh(work)
        nds, stream = self._stream(spark, src, work)
        wall, progress = self._run_query(nds, stream, work)
        trig = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        return Pass(wall, trig, {"progress": progress, "matches": nds.out_dir})

    def run(self, spark) -> Pass:
        res = self._pass(spark, os.path.join(self.input_dir, "src"), os.path.join(self.work, "stream"))
        res.out["digest"] = self._digest(res.out["matches"])
        return res

    @staticmethod
    def _digest(matches: str) -> str:
        cols = ["doc_id", "matched_id", "inter", "uni", "lcs_len", "confirmed"]
        t = pq.read_table(matches, columns=cols)
        rows = sorted(zip(*(t.column(c).to_pylist() for c in cols)))
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    def details(self, passes: list[Pass]) -> dict[str, tuple]:
        """Trigger latency: the median, and the highest percentile with at
        least ten triggers beyond it when the run has that many."""
        s = summarize([x for p in passes for x in p.latencies])
        out = {"trigger_p50_s": (s["median"], "s"), "triggers_sampled": (s["n"], "count")}
        if s["top_q"] and s["top_q"] > 50:
            out[f"trigger_p{s['top_q']}_s"] = (s["top_value"], "s")
        return out

    def checks(self, spark, passes: list[Pass], expected: Expected) -> list[Check]:
        if not passes:
            return []
        digests = {p.out["digest"] for p in passes}
        counts = {len(p.out["progress"]) for p in passes}
        return [
            Check("passes_agree", len(digests) == 1, sorted(digests)),
            Check("one_trigger_per_file", counts == {self.meta["triggers"]}, sorted(counts)),
            expected.check(f"{self.name}:{self.size_key()}:{self.seed}", passes[-1].out["digest"]),
        ]

    def traced(self, spark, tr: Tracer) -> dict:
        work = _fresh(os.path.join(self.work, "stream_traced"))
        nds, stream = self._stream(spark, os.path.join(self.input_dir, "src"), work)
        compact_s = [0.0]
        sizes: list[tuple] = []
        process_batch, compact = nds.process_batch, nds.compact

        def timed_compact(*a, **kw):
            t0 = time.perf_counter()
            try:
                return compact(*a, **kw)
            finally:
                compact_s[0] += time.perf_counter() - t0

        def listed_batch(df, batch_id):
            process_batch(df, batch_id)
            sizes.append(
                _dir_size(os.path.join(work, "index", "bands"))
                + _dir_size(os.path.join(work, "index", "texts"))
            )

        nds.compact = timed_compact
        nds.process_batch = listed_batch
        wall, progress = self._run_query(nds, stream, work)
        tr.spans["stream"] = wall
        n_out = _parquet_rows(nds.out_dir)
        tr.rows("stream", self.meta["n_files"], n_out)
        dur = [p["durationMs"] for p in progress]
        idx_bytes, idx_files, txt_bytes, _txt_files = sizes[-1]
        tr.extras.update(
            {
                "stream.addbatch_ms": statistics.median(d.get("addBatch", 0) for d in dur),
                "stream.overhead_ms": statistics.median(
                    d["triggerExecution"] - d.get("addBatch", 0) for d in dur
                ),
                "stream.compact_s": compact_s[0],
                "stream.index_bytes": idx_bytes,
                "stream.index_files": idx_files,
                "stream.text_index_bytes": txt_bytes,
            }
        )
        return {
            "wall_s": wall,
            "digest": self._digest(nds.out_dir),
            "run_id": progress[0]["runId"],
        }


WORKLOADS = {w.name: w for w in (NearDupBatch, EncodeAppend, StreamConfirm)}
