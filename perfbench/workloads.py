"""The benchmark workloads. Each one drives the package only through its
public functions and checks every output it gets back.

A workload has a set-up that builds its state, one closed-loop unit of
work (``op``) and a final check of the state the ops left behind. An
output that is wrong raises :class:`CheckFailed`; the harness counts it as
a failed operation and never skips it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMBED_DIM = 1536  # the reference's embedding_dim (db_utils.py:33)
K = 10


class CheckFailed(AssertionError):
    """An output of the program is wrong."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _chunk_hashes(docs, chunk_text_py) -> dict[str, int]:
    """md5 of every non-blank chunk of ``docs`` -> the chunk's position in its
    document (its first occurrence's), computed in plain Python with the
    package's reference splitter, independently of the Spark pipeline."""
    out: dict[str, int] = {}
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        norm = re.sub(r"\s+", " ", d["text"]).strip()
        for pos, c in enumerate(chunk_text_py(norm)):
            if c.strip():
                out.setdefault(hashlib.md5(c.encode("utf-8")).hexdigest(), pos)
    return out


def _write_docs(docs, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])), path)


def _graph_ids(ic) -> set:
    """The vector ids the persisted HNSW graph holds, read from its parquet
    files (not through the package)."""
    return set(pq.read_table(ic.path + ".ann/hnsw/graph", columns=["id"]).column("id").to_pylist())


class Workload:
    """Base: subclasses set ``name`` and ``unit`` and implement the hooks."""

    name = ""
    unit = ""

    def __init__(self, spark, run_dir: str, seed: int, scale: float):
        self.spark = spark
        self.dir = os.path.join(run_dir, "state")
        self.seed = seed
        self.scale = scale
        self.rng = random.Random(seed)
        self.input_bytes = 0
        #: opens a named span; a traced run replaces it with the tracer's
        self.span = lambda name: contextlib.nullcontext()

    def n(self, full: int) -> int:
        return max(2, int(full * self.scale))

    def setup(self) -> None:
        """Build the workload's state under ``self.dir``."""
        raise NotImplementedError

    def op(self):
        """One unit of work. Returns how many ``unit`` it handled and a
        function that checks its output, or None; the harness times the op
        alone and runs the check after it."""
        raise NotImplementedError

    def final_check(self) -> None:
        """Check the state the ops left behind."""

    def stored_paths(self) -> dict[str, str]:
        """Named directories whose files count as stored bytes."""
        return {}

    def detail(self) -> dict:
        return {}

    #: ops run before timing starts: the first op of a run pays the op
    #: path's planning, JIT compilation and worker start-up (it takes about
    #: 1.4x a later op; the second about 1.05x)
    WARMUP_OPS = 1

    #: ``module:attribute`` lookups the traced run wraps in spans; module
    #: names are relative to the package unless they start with ``tools``.
    TRACE: tuple[str, ...] = ()

    def close(self) -> None:
        """Release what the state holds open (a running stream)."""


# -- ingest ------------------------------------------------------------------


class Ingest(Workload):
    """Write path: each op is one wave of documents taken through the
    ingestion journey. The wave is staged for a file-source stream read with
    ``maxFilesPerTrigger=1`` and ``start_streaming_near_dedup`` commits it as
    one micro-batch into the near-deduplicated corpus; the same wave goes
    through ``ingest_documents`` -> ``IndexClient.store`` ->
    ``increment_ann("hnsw")`` into the search index; and the wave's
    near-dedup survivors are curated with ``curate_cli run``.

    A wave holds fresh fixture documents, exact re-offers of documents from
    earlier waves (the store's dedup anti-join and the stream's id guard
    drop them) and planted near-duplicates (one word changed) of earlier or
    same-wave documents (the stream's MinHash-LSH increment should drop them).
    """

    name, unit = "ingest", "docs"
    SEED_DOCS, WAVE_NEW, WAVE_REOFFER, WAVE_NEAR = 40, 40, 10, 10
    NEAR_ID0 = 10_000_000  # planted near-duplicates get ids above the fixture's

    def setup(self) -> None:
        from data_ingestion_tool_bakasura__spark.functions.text import chunk_text_py
        from data_ingestion_tool_bakasura__spark.index_client import IndexClient
        from data_ingestion_tool_bakasura__spark.streaming.pipeline import start_streaming_near_dedup

        os.makedirs(self.dir)
        self.chunk_text_py = chunk_text_py
        self.vocab = corpus.vocabulary()
        self.fresh = corpus.documents()
        self.rng.shuffle(self.fresh)
        self.next_near = self.NEAR_ID0
        self.offered: list[dict] = []  # fixture documents offered so far
        self.offered_ids: set[int] = set()
        self.planted: set[int] = set()
        self.hashes: set[str] = set()  # distinct chunk md5s the index must hold
        self.corpus_ids: set[int] = set()  # doc_ids the stream kept
        self.unplanted_drops = None
        self.waves = 0

        self.ic = IndexClient(self.spark, os.path.join(self.dir, "index"), embedding_dim=EMBED_DIM)
        self.ic.initialize()
        self.src = os.path.join(self.dir, "incoming")
        self.corpus_path = os.path.join(self.dir, "corpus")
        self.bands_path = os.path.join(self.dir, "bands")
        self.ckpt = os.path.join(self.dir, "stream_ckpt")
        self.curate_in = os.path.join(self.dir, "curate_in")
        self.curate_out = os.path.join(self.dir, "curated")
        os.makedirs(self.src)
        stream = (
            self.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(self.src)
        )
        self.query = start_streaming_near_dedup(
            stream, self.corpus_path, self.bands_path, checkpoint=self.ckpt, available_now=False,
        )
        self.last_batch = -1

        seed_wave = self._take_fresh(self.n(self.SEED_DOCS))
        self._stream(seed_wave)
        self._index(seed_wave)
        self.ic.build_ann("hnsw")
        self._check_wave(seed_wave, self._added, None)

    def _take_fresh(self, n: int) -> list[dict]:
        docs, self.fresh = self.fresh[:n], self.fresh[n:]
        return docs

    def _stream(self, wave: list[dict]) -> None:
        """Stage the wave and wait until the micro-batch that read it has
        committed."""
        staged = os.path.join(self.dir, f".wave-{self.waves:05d}.parquet")
        _write_docs(wave, staged)
        os.rename(staged, os.path.join(self.src, f"wave-{self.waves:05d}.parquet"))
        self.waves += 1
        # processAllAvailable can return on an idle trigger that listed the
        # directory just before the rename; wait for the batch that read it
        while True:
            self.query.processAllAvailable()
            ran = [p["batchId"] for p in self.query.recentProgress
                   if p["batchId"] > self.last_batch and p["numInputRows"] > 0]
            if ran:
                self.last_batch = ran[-1]
                return
            time.sleep(0.01)

    def _index(self, wave: list[dict]) -> None:
        from data_ingestion_tool_bakasura__spark.operators.ingest import IngestConfig, ingest_documents

        df = self.spark.createDataFrame(wave, DOC_SCHEMA)
        rows = ingest_documents(df, self.ic.table(), cfg=IngestConfig(embedding_dim=EMBED_DIM))
        self._added = self.ic.store(rows)

    def _survivors(self, wave: list[dict]) -> list[dict]:
        """The wave's documents the stream appended to the corpus."""
        new_ids = {d["doc_id"] for d in wave} - self.corpus_ids
        if not os.path.isdir(self.corpus_path):
            return []
        t = pq.read_table(self.corpus_path, filters=[("doc_id", "in", sorted(new_ids))])
        return t.to_pylist()

    def op(self):
        earlier = self.offered
        reoffer = self.rng.sample(earlier, min(self.n(self.WAVE_REOFFER), len(earlier)))
        fresh = self._take_fresh(self.n(self.WAVE_NEW))
        near = []
        for _ in range(self.n(self.WAVE_NEAR)):
            near.append(corpus.one_word_changed(
                self.rng, self.rng.choice(earlier + fresh), self.next_near, self.vocab))
            self.next_near += 1
        wave = fresh + reoffer + near
        self.rng.shuffle(wave)

        self._stream(wave)
        self._index(wave)
        man = self.ic.increment_ann("hnsw")
        survivors = self._survivors(wave)
        card = None
        if survivors:
            shutil.rmtree(self.curate_in, ignore_errors=True)
            os.makedirs(self.curate_in)
            _write_docs(survivors, os.path.join(self.curate_in, "part-000.parquet"))
            card = self._curate()

        def verify():
            self.planted.update(d["doc_id"] for d in near)
            self._check_wave(wave, self._added, man)
            check(len(survivors) == len({d["doc_id"] for d in survivors}),
                  "a document survived near-dedup twice in one wave")
            check(not {d["doc_id"] for d in reoffer} & {d["doc_id"] for d in survivors},
                  "a re-offered document was appended to the corpus again")
            if card is not None:
                self._check_card(card, len(survivors))

        return len(wave), verify

    def _curate(self) -> dict:
        from tools import curate_cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = curate_cli.main(["run", self.curate_in, self.curate_out])
        check(rc == 0, f"curate_cli run exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def _check_card(self, card: dict, n_in: int) -> None:
        written = pq.read_table(card["out"]).num_rows
        check(card["n_in"] == n_in, f"curate n_in {card['n_in']} != {n_in} survivors")
        check(card["n_kept"] == written, f"curate n_kept {card['n_kept']} != {written} rows written")
        check(sum(card["splits"].values()) == card["n_kept"],
              f"curate splits {card['splits']} do not sum to n_kept {card['n_kept']}")

    def _check_wave(self, wave: list[dict], added: int, man: dict | None) -> None:
        """The store added one row per chunk hash never seen before, the HNSW
        graph holds exactly the index's rows, and the stream kept each
        document at most once."""
        new_hashes = _chunk_hashes(wave, self.chunk_text_py).keys() - self.hashes
        check(added == len(new_hashes),
              f"store added {added} rows, expected {len(new_hashes)} new chunk hashes "
              f"(re-offered documents must add 0)")
        self.hashes |= new_hashes
        graph = _graph_ids(self.ic)
        check(len(graph) == len(self.hashes),
              f"hnsw graph holds {len(graph)} distinct ids, the index {len(self.hashes)} rows")
        if man is not None:
            check(man["n_rows"] == man["n_table_rows"] == len(self.hashes),
                  f"hnsw manifest n_rows {man['n_rows']} / table rows {man['n_table_rows']} "
                  f"!= {len(self.hashes)}")
        kept = pq.read_table(self.corpus_path, columns=["doc_id"]).column("doc_id").to_pylist()
        check(len(kept) == len(set(kept)), f"{len(kept) - len(set(kept))} doc_ids appear twice in the corpus")
        wave_ids = {d["doc_id"] for d in wave}
        check(set(kept) - self.corpus_ids <= wave_ids, "the corpus gained documents outside the wave")
        self.corpus_ids = set(kept)
        fixture = [d for d in wave if d["doc_id"] < self.NEAR_ID0 and d["doc_id"] not in self.offered_ids]
        self.offered.extend(fixture)
        self.offered_ids |= wave_ids
        self.input_bytes += sum(len(d["text"]) for d in wave)

    def final_check(self) -> None:
        n = self.ic.stats()["document_count"]
        check(n == len(self.hashes),
              f"index holds {n} rows, expected {len(self.hashes)} distinct text_hash values")
        check(len(_graph_ids(self.ic)) == n, f"hnsw graph ids != {n} table rows")
        man = self.ic.ann_manifest("hnsw")
        check(man["n_rows"] == n, f"hnsw manifest n_rows {man['n_rows']} != {n} table rows")
        kept = self.corpus_ids
        check(kept <= self.offered_ids, "the corpus holds documents that were never offered")
        band_ids = set(pq.read_table(self.bands_path, columns=["_id"]).column("_id").to_pylist())
        check(band_ids <= kept, f"{len(band_ids - kept)} band keys belong to no corpus document")
        dropped = self.offered_ids - kept
        check(len(kept) + len(dropped) == len(self.offered_ids), "survivors plus drops != input")
        check(2 * len(dropped & self.planted) >= len(self.planted),
              f"only {len(dropped & self.planted)} of {len(self.planted)} planted near-duplicates dropped")
        # LSH is approximate (the sink drops on band collisions without a
        # Jaccard check), so drops of unplanted documents are reported, not failed
        self.unplanted_drops = len({i for i in dropped if i < self.NEAR_ID0})

    def progress(self) -> list:
        """recentProgress of every micro-batch that read a wave, in order
        (idle triggers left out): one per stream call."""
        return [p for p in self.query.recentProgress if p["numInputRows"] > 0]

    def detail(self) -> dict:
        return {"planted_near_dups": len(self.planted), "unplanted_drops": self.unplanted_drops,
                "index_rows": len(self.hashes), "corpus_docs": len(self.corpus_ids)}

    def stored_paths(self) -> dict[str, str]:
        return {"index": self.ic.path, "ann": self.ic.path + ".ann", "corpus": self.corpus_path,
                "bands": self.bands_path, "stream_checkpoint": self.ckpt, "curated": self.curate_out}

    def close(self) -> None:
        self.query.stop()

    TRACE = (
        "streaming.pipeline:reliable_checkpoint",
        "operators.dedup:minhash_lsh_increment",
        "operators.ingest:ingest_documents",
        "index_client:IndexClient.store",
        "index_client:IndexClient.increment_ann",
        "operators.hnsw:hnsw_index_increment",
        "index_client:reliable_checkpoint",
        "tools.curate_cli:main",
        "operators.dedup:remove_repeated_spans",
        "operators.sampling:char_trigram_nll",
        "operators.sampling:quality_classifier_score",
        "operators.sampling:hash_split",
    )


# -- search ------------------------------------------------------------------


class Search(Workload):
    """Read path: one closed-loop client runs cycles of the six query types
    over a 1536-d index of fixture documents built in set-up. Each result is
    collected and checked; exact top-k is compared with a numpy cosine brute
    force, and HNSW recall@10 against it must stay above a floor."""

    name, unit = "search", "queries"  # an op is one cycle of six queries
    DOCS = 1000
    TYPES = ("stats", "filter", "text", "vector_exact", "vector_hnsw", "hybrid")
    #: lowest HNSW recall@10 a query may get: over 180 queries on the
    #: indexes of seeds 1-3 the lowest was 0.9 and the mean 0.999
    RECALL_FLOOR = 0.7

    def setup(self) -> None:
        from data_ingestion_tool_bakasura__spark.functions import embed
        from data_ingestion_tool_bakasura__spark.functions.text import chunk_text_py
        from data_ingestion_tool_bakasura__spark.index_client import IndexClient
        from data_ingestion_tool_bakasura__spark.operators.ingest import IngestConfig, ingest_documents

        os.makedirs(self.dir)
        self.embed = embed
        self.vocab = corpus.vocabulary()
        docs = corpus.sample(self.rng, self.n(self.DOCS))
        self.input_bytes = sum(len(d["text"]) for d in docs)
        chunks = _chunk_hashes(docs, chunk_text_py)
        self.n_rows = len(chunks)
        self.n_later_chunks = sum(pos >= 1 for pos in chunks.values())
        self.ic = IndexClient(self.spark, os.path.join(self.dir, "index"), embedding_dim=EMBED_DIM)
        self.ic.initialize()
        df = self.spark.createDataFrame(docs, DOC_SCHEMA)
        added = self.ic.store(ingest_documents(df, None, cfg=IngestConfig(embedding_dim=EMBED_DIM)))
        check(added == self.n_rows, f"store added {added} rows, expected {self.n_rows} distinct chunks")
        self.ic.build_ann("hnsw")
        check(len(_graph_ids(self.ic)) == self.n_rows, f"hnsw graph ids != {self.n_rows} index rows")
        self.latency: dict[str, list[float]] = {t: [] for t in self.TYPES}
        self.recall: list[float] = []
        self._vectors = None

    def _brute_force(self, query: str) -> tuple[list[str], dict[str, float]]:
        """Exact cosine top-k over the index vectors in numpy, and every id's
        score, ties broken by id as the package does."""
        if self._vectors is None:
            pdf = self.ic.table().select("id", "content_vector").toPandas()
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["content_vector"]])
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            self._vectors = (pdf["id"].tolist(), mat)
        ids, mat = self._vectors
        q = np.asarray(self.embed.hash_embed_py(query, EMBED_DIM), dtype=np.float64)
        scores = mat @ (q / np.linalg.norm(q))
        order = np.lexsort((np.asarray(ids), -scores))[:K]
        return [ids[i] for i in order], dict(zip(ids, scores.tolist()))

    def _ranked(self, rows, col: str, what: str) -> None:
        check(len(rows) == K, f"{what}: {len(rows)} rows, expected {K}")
        s = [r[col] for r in rows]
        check(all(a >= b for a, b in zip(s, s[1:])), f"{what}: rows not in {col} order")

    def _query(self, kind: str, q: str):
        if kind == "stats":
            return self.ic.stats()["document_count"]
        if kind == "filter":
            return self.ic.search(where="chunk_id >= 1", select=["id", "chunk_id"], top=K).collect()
        if kind == "text":
            return self.ic.search_text(q, k=K).collect()
        if kind == "vector_exact":
            return self.ic.search_vector(q, k=K, index="exact").collect()
        if kind == "vector_hnsw":
            return self.ic.search_vector(q, k=K, index="hnsw").collect()
        return self.ic.search_hybrid(q, k=K).collect()

    def op(self):
        """One query of each type, in a fixed order, each collected: every op
        weighs the six types alike, whatever the run length."""
        results = []
        for kind in self.TYPES:
            q = corpus.query_terms(self.rng, self.vocab)
            t0 = time.perf_counter()
            with self.span(f"bench.query.{kind}"):
                got = self._query(kind, q)
            self.latency[kind].append(time.perf_counter() - t0)
            results.append((kind, q, got))

        def verify():
            for r in results:
                self._verify(*r)

        return len(results), verify

    def _verify(self, kind: str, q: str, got) -> None:
        if kind == "stats":
            check(got == self.n_rows, f"stats: {got} chunks, expected {self.n_rows}")
        elif kind == "filter":
            want = min(K, self.n_later_chunks)
            check(len(got) == want and all(r["chunk_id"] >= 1 for r in got),
                  f"filter: {len(got)} rows (expected {want}) or a row outside the predicate")
        elif kind == "text":
            self._ranked(got, "bm25", "search_text")
        elif kind == "vector_exact":
            self._ranked(got, "cos_sim", "search_vector exact")
            want, score = self._brute_force(q)
            # rank by rank, the numpy score must match: an id may differ only
            # where two scores tie to float precision
            check(all(abs(score[r["id"]] - score[w]) < 1e-6 and abs(r["cos_sim"] - score[w]) < 1e-4
                      for r, w in zip(got, want)),
                  f"exact top-{K} {[r['id'] for r in got]} != numpy brute force {want}")
        elif kind == "vector_hnsw":
            self._ranked(got, "cos_sim", "search_vector hnsw")
            want, score = self._brute_force(q)
            check(all(abs(r["cos_sim"] - score[r["id"]]) < 1e-4 for r in got),
                  "search_vector hnsw: a cos_sim differs from the numpy score of its id")
            # a hit counts if it scores at least the exact k-th score: an id
            # tied with the k-th is as right as the one the brute force kept
            kth = score[want[-1]]
            recall = sum(score[r["id"]] >= kth - 1e-9 for r in got) / K
            self.recall.append(recall)
            check(recall >= self.RECALL_FLOOR,
                  f"hnsw recall@{K} {recall:.1f} below the floor {self.RECALL_FLOOR} for {q!r}")
        else:
            self._ranked(got, "rrf", "search_hybrid")

    def stored_paths(self) -> dict[str, str]:
        return {"index": self.ic.path, "ann": self.ic.path + ".ann"}

    def detail(self) -> dict:
        # the first cycles are the harness's warm-up ops
        w = self.WARMUP_OPS
        out = {f"{t}_p50_s": float(np.median(v[w:])) for t, v in self.latency.items() if v[w:]}
        if self.recall:
            out["hnsw_recall_at_10"] = float(np.mean(self.recall))
            out["hnsw_recall_min"] = float(min(self.recall))
        return out

    TRACE = (
        "index_client:IndexClient.stats",
        "index_client:IndexClient.search",
        "index_client:IndexClient.search_text",
        "index_client:IndexClient.search_vector",
        "index_client:IndexClient.search_hybrid",
        "operators.hnsw:hnsw_topk_indexed",
        "operators.similarity:cosine_topk",
        "functions.ranking:bm25_topk",
        "functions.ranking:rrf_fuse",
    )


WORKLOADS = {w.name: w for w in (Ingest, Search)}
