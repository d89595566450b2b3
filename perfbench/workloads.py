"""The two closed-loop workloads (one client each).

Each workload generates its inputs from the seed (``perfbench.gen``),
hands the program only those inputs, and calls the program's public
functions. ``step`` is one loop iteration: one write operation (a PDF
batch landed together with a catalog drain, or a curation pass)
followed by the reads that hit its result. The runner first calls
``warm`` (untimed, a fixed amount of work so that every run measures
the same stretch of the input while the JVM's JIT and Spark's
code-generation caches settle), then measures. DataFrame build time, and the jobs the program
runs while building, fall inside the timed operation. Results are kept
and compared with the generator's expected values in ``check``, after
the timed loop.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen


class Recorder:
    """Times operations, counts failures, holds per-op samples."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        #: op latencies by kind, and items per second of each write op
        self.samples: dict[str, list[float]] = {"write": [], "read": [], "rate": []}
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.counters: dict[str, float] = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op(self, kind: str, name: str, fn, items: int = 0):
        """Run ``fn`` as one timed operation; None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                out = fn()
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            self.failed += 1
            print(f"[perfbench] {name} failed: {exc!r}", file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        self.samples[kind].append(dt)
        if items:
            self.samples["rate"].append(items / dt)
        self.items += items
        return out

    def count(self, key: str, n: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def fail_check(self, what: str) -> None:
        self.failed += 1
        print(f"[perfbench] check failed: {what}", file=sys.stderr)


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# PDF landing (the ingest side of ingest_serve)
# ---------------------------------------------------------------------------


class Ingest:
    """PDF batches -> scan -> extract_pages -> snippetize -> write, then
    look up two documents in the landed snippet table."""

    DOCS_PER_BATCH = 16
    N_BATCHES = 24
    READS_PER_BATCH = 2

    def __init__(self, spark, seed: int, work: str):
        from data_ingestion_py_spark.sources.ocr_pure import ALNUM_TEMPLATES

        self.spark = spark
        self.corpus = gen.ingest_corpus(
            seed, self.N_BATCHES, self.DOCS_PER_BATCH, ALNUM_TEMPLATES
        )
        self.in_dirs = []
        for b, docs in enumerate(self.corpus.batches):
            d = os.path.join(work, "ingest-in", f"batch-{b:03d}")
            os.makedirs(d)
            for doc in docs:
                with open(os.path.join(d, doc.name), "wb") as f:
                    f.write(doc.pdf)
            self.in_dirs.append(d)
        self.out_root = os.path.join(work, "ingest-out")
        self.reads: list[tuple[int, str, list]] = []
        self.written: set[int] = set()
        self.rng = gen.seeded_rng(seed, "ingest-reads")

    def sizes(self) -> dict:
        return self.corpus.sizes()

    def _out(self, b: int) -> str:
        return os.path.join(self.out_root, f"batch-{b:03d}")

    def _ingest(self, b: int) -> bool:
        from data_ingestion_py_spark import io
        from data_ingestion_py_spark.operators import snippetize
        from data_ingestion_py_spark.sources import pdf

        binary = pdf.scan_pdf_directory(self.spark, self.in_dirs[b])
        pages = pdf.extract_pages(binary)
        snips = snippetize.snippetize(
            pages,
            text_col="page_text",
            id_cols=("document_name", "page_number"),
            carry_cols=("needs_ocr",),
        )
        io.write_partitioned(
            snips, os.path.join(self._out(b), "snippets.parquet"), ["needs_ocr"]
        )
        return True  # Recorder.op reads None as a failed operation

    def _lookup(self, b: int, name: str) -> list:
        from data_ingestion_py_spark import io
        from pyspark.sql import functions as F

        t = io.load_table(self.spark, self._out(b), "snippets")
        return _rows(
            t.where(F.col("document_name") == name).select(
                "page_number", "snippet_id", "snippet_text"
            )
        )

    def lookups(self, b: int, rec: Recorder) -> None:
        """Look up ``READS_PER_BATCH`` documents of landed batch ``b``."""
        for doc in self.rng.sample(self.corpus.batches[b], self.READS_PER_BATCH):
            got = rec.op("read", "snippet_lookup", lambda: self._lookup(b, doc.name))
            if got is not None:
                self.reads.append((b, doc.name, got))
                rec.count("snippetize.rows_read", len(got))

    def check(self, rec: Recorder) -> dict:
        from data_ingestion_py_spark.sources import pdf

        docs = {d.name: d for batch in self.corpus.batches for d in batch}
        hits = 0
        for b, name, got in self.reads:
            want = [
                (p + 1, sid, text)
                for p, page in enumerate(docs[name].pages)
                for sid, text in gen.snippets_of(page)
            ]
            if sorted(got) == sorted(want):
                hits += 1
            else:
                rec.fail_check(f"ingest lookup {name}")
        written = sorted(self.written)
        tables = [
            self.spark.read.parquet(os.path.join(self._out(b), "snippets.parquet")).select(
                "document_name", "page_number", "snippet_id", "snippet_text", "needs_ocr"
            )
            for b in written
        ]
        got = _rows(functools.reduce(lambda x, y: x.unionByName(y), tables))
        # the partition column reads back as a string
        got = [(*r[:4], r[4] == "true") for r in got]
        want = [row for b in written for row in self.corpus.snippet_rows(b)]
        if gen.table_digest(got) != gen.table_digest(want):
            rec.fail_check(f"ingest snippet tables of batches {written}")
        # page texts of one batch, straight from extract_pages
        b = min(self.written) if self.written else 0
        got = _rows(
            pdf.extract_pages(pdf.scan_pdf_directory(self.spark, self.in_dirs[b]))
            .select("document_name", "page_number", "page_text", "needs_ocr")
        )
        want = [
            (d.name, p + 1, text, d.scanned)
            for d in self.corpus.batches[b]
            for p, text in enumerate(d.pages)
        ]
        if sorted(got) != sorted(want):
            rec.fail_check(f"ingest page texts of batch {b}")
        return {"recall": hits / max(len(self.reads), 1)}

    def layer_probes(self) -> dict:
        """Kernel throughput on the same bytes, called directly (traced
        run only, after the timed loop)."""
        from data_ingestion_py_spark.sources.ocr_pure import ALNUM_TEMPLATES, ocr_pdf_pages
        from data_ingestion_py_spark.sources.pdf_pure import parse_pdf_text

        docs = [d for b in sorted(self.written) for d in self.corpus.batches[b]]
        text = [d for d in docs if not d.scanned]
        scans = [d for d in docs if d.scanned]
        t0 = time.perf_counter()
        for d in text:
            parse_pdf_text(d.pdf)
        t1 = time.perf_counter()
        for d in scans:
            ocr_pdf_pages(d.pdf, strict=True, templates=[None, ALNUM_TEMPLATES])
        t2 = time.perf_counter()
        pages = sum(len(d.pages) for d in docs)
        return {
            "sources.pdf_pure.pages_per_s": sum(len(d.pages) for d in text) / max(t1 - t0, 1e-9),
            "sources.ocr.pages_per_s": sum(len(d.pages) for d in scans) / max(t2 - t1, 1e-9),
            "sources.ocr_page_frac": sum(len(d.pages) for d in scans) / max(pages, 1),
        }


# ---------------------------------------------------------------------------
# catalog (the serving side of ingest_serve)
# ---------------------------------------------------------------------------


class CatalogServe:
    """Command batches drained one at a time through
    ``command_batch_processor``; after each drain, reads of the live
    state (category snippets, keyword lookup, active-snippet top-k)."""

    N_BATCHES = 40
    #: The program's own drain bound: ``streaming.pipeline.read_command_stream``
    #: takes at most 40 command files per micro-batch, after the reference's
    #: ``Queue(maxsize=40)``.
    COMMANDS_PER_BATCH = 40
    READS_PER_BATCH = 3
    TOPK = 5

    def __init__(self, spark, seed: int, work: str):
        from data_ingestion_py_spark.catalog.state import empty_state, seed_categories
        from data_ingestion_py_spark.streaming.pipeline import StateHolder

        self.spark = spark
        self.stream = gen.command_stream(
            seed, self.N_BATCHES, self.COMMANDS_PER_BATCH, self.READS_PER_BATCH
        )
        emb = self.stream.embeddings
        self.emb_dir = os.path.join(work, "catalog")
        os.makedirs(self.emb_dir)
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(len(emb), dtype=np.int64)),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            }),
            os.path.join(self.emb_dir, "embeddings.parquet"),
        )
        state = empty_state(spark).with_(categories=seed_categories(spark))
        self.holder = StateHolder(state=state, audits=[])
        self.replay = gen.CatalogReplay()
        self.next = 0
        self.reads: list[tuple] = []  # (read, replay snapshot answer, got)

    def sizes(self) -> dict:
        return self.stream.sizes()

    def _drain(self, batch) -> bool:
        from data_ingestion_py_spark.catalog import mutations
        from data_ingestion_py_spark.catalog.actions import commands_from_rows
        from data_ingestion_py_spark.streaming import pipeline

        if batch.expire_first:
            self.holder.state = mutations.expire_documents_auto(self.holder.state)
        # a fresh handler per drain (the holder carries the state), so a
        # tracer installed after the warm-up sees every drain
        process = pipeline.command_batch_processor(self.holder)
        process(commands_from_rows(self.spark, batch.rows), self.next)
        return True  # Recorder.op reads None as a failed operation

    def _read(self, read, rec: Recorder):
        from data_ingestion_py_spark import io
        from data_ingestion_py_spark.operators import similarity
        from pyspark.sql import functions as F

        kind, arg = read
        state = self.holder.state
        if kind == "category":
            sn = state.snippets()
            return _rows(
                sn.where((F.col("category_id") == arg) & (F.col("document_status") == "Active"))
                .select("document_name", "page_number", "snippet_id", "snippet_text")
            )
        if kind == "keyword":
            sn = state.snippets()
            return _rows(
                sn.where(F.col("snippet_text").contains(arg) & (F.col("document_status") == "Active"))
                .select("document_name", "page_number", "snippet_id")
            )
        emb = io.load_table(self.spark, self.emb_dir, "embeddings")
        docs = state.pages.where(F.col("page_number") == 1).join(
            state.documents.select("document_id", "document_status"), "document_id"
        )
        top = similarity.active_snippet_topk(
            docs, emb, arg, k=self.TOPK, text_col="page_text", id_col="document_id"
        )
        with rec.span("similarity.active_snippet_topk.exec"):
            return _rows(top)

    def _expected(self, read):
        kind, arg = read
        if kind == "category":
            return self.replay.category_snippets(arg)
        if kind == "keyword":
            return self.replay.keyword_snippets(arg)
        return self.replay.active_first_pages()

    def pending(self):
        """The next command batch, or None when the stream is drained."""
        return self.stream.batches[self.next] if self.next < len(self.stream.batches) else None

    def commit(self, batch, rec: Recorder) -> None:
        """Follow a completed drain in the replay, then run the batch's
        reads against the live state."""
        changed_before = self.replay.changed_rows
        if batch.expire_first:
            self.replay.expire()
        self.replay.apply(batch.rows)
        self.next += 1
        rec.count("catalog.changed_rows", self.replay.changed_rows - changed_before)
        for read in batch.reads:
            got = rec.op("read", f"read_{read[0]}", lambda: self._read(read, rec))
            if got is not None:
                self.reads.append((read, self._expected(read), got))
                rec.count("snippetize.rows_read", len(got))

    def check(self, rec: Recorder) -> dict:
        r = self.replay
        st = self.holder.state
        docs = {
            row.document_name: (row.document_id, row.category_id, row.document_status)
            for row in st.documents.collect()
        }
        want = {n: (d["document_id"], d["category_id"], d["status"]) for n, d in r.docs.items()}
        if docs != want:
            rec.fail_check("catalog documents/statuses")
        cats = {row.category_id: row.category_name for row in st.categories.collect()}
        if cats != r.categories:
            rec.fail_check("catalog categories")
        pages = sorted(_rows(st.pages.select("document_id", "page_number", "page_text")))
        want_pages = sorted(
            (d["document_id"], p + 1, t) for d in r.docs.values() for p, t in enumerate(d["pages"])
        )
        if pages != want_pages:
            rec.fail_check("catalog pages")
        audit = {}
        for a in self.holder.audits:
            audit.update({row.seq: row.status for row in a.select("seq", "status").collect()})
        if audit != r.audit:
            rec.fail_check("catalog audit statuses")
        hits = total = 0
        for (kind, arg), expected, got in self.reads:
            if kind != "topk":
                if sorted(got) != sorted(expected):
                    rec.fail_check(f"catalog read {kind} {arg}")
                continue
            ok, found = self._check_topk(arg, expected, got)
            hits += found
            total += self.TOPK
            if not ok:
                rec.fail_check(f"catalog top-k for {arg}")
        return {"recall": hits / total if total else 1.0}

    def _check_topk(self, qid: int, active: dict, got: list) -> tuple[bool, int]:
        """``active_snippet_topk`` against exact numpy top-k over the
        active documents' first pages: returned docs, their snippets and
        cosines; near-ties at the cut (within 1e-6) may swap."""
        emb = self.stream.embeddings
        ids = np.array(sorted(i for i in active if i != qid), dtype=np.int64)
        v = emb[ids].astype(np.float64)
        q = emb[qid].astype(np.float64)
        sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
        order = sorted(range(len(ids)), key=lambda i: (-round(float(sims[i]), 6), int(ids[i])))
        want = [int(ids[i]) for i in order[: self.TOPK]]
        sim_of = {int(ids[i]): float(sims[i]) for i in range(len(ids))}
        got_docs = {}
        for doc_id, sid, text, cos in got:
            got_docs.setdefault(doc_id, []).append((sid, text))
            if doc_id not in sim_of or abs(sim_of[doc_id] - cos) > 1e-5:
                return False, 0
        cut = min((sim_of[i] for i in want), default=0.0)
        ok = len(got_docs) == len(want) and all(
            d in want or abs(sim_of[d] - cut) < 1e-6 for d in got_docs
        )
        for d, snips in got_docs.items():
            ok = ok and sorted(snips) == gen.snippets_of(active[d])
        return ok, len(set(got_docs) & set(want))


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


class IngestServe:
    """One service that lands uploaded PDFs and drains catalog commands
    in lockstep. Each write operation lands one PDF batch (``Ingest``)
    and drains one command batch (``CatalogServe``); the reads after it
    look up landed documents and query the live catalog. The two
    streams are generated independently from the seed."""

    item_unit = "requests"  # PDFs landed plus commands applied

    def __init__(self, spark, seed: int, work: str):
        self.ingest = Ingest(spark, seed, work)
        self.catalog = CatalogServe(spark, seed, work)
        self.next = 0

    def sizes(self) -> dict:
        return {
            **{f"ingest.{k}": v for k, v in self.ingest.sizes().items()},
            **{f"catalog.{k}": v for k, v in self.catalog.sizes().items()},
        }

    def _write(self, b: int, batch) -> bool:
        self.ingest._ingest(b)
        return self.catalog._drain(batch)

    def warm(self, rec: Recorder) -> None:
        """Two steps: drain times level off from the third drain on."""
        self.step(rec)
        self.step(rec)

    def step(self, rec: Recorder) -> bool:
        batch = self.catalog.pending()
        if batch is None:
            return False
        b = self.next % self.ingest.N_BATCHES
        n = len(self.ingest.corpus.batches[b]) + len(batch.rows)
        if rec.op("write", "land_and_drain", lambda: self._write(b, batch), n) is None:
            return False  # the replay can no longer follow the state
        self.next += 1
        self.ingest.written.add(b)
        self.ingest.lookups(b, rec)
        self.catalog.commit(batch, rec)
        return True

    def check(self, rec: Recorder) -> dict:
        lookups = self.ingest.check(rec)["recall"]
        topk = self.catalog.check(rec)["recall"]
        return {"recall": (lookups + topk) / 2, "lookup_recall": lookups, "topk_recall": topk}

    def layer_probes(self) -> dict:
        return self.ingest.layer_probes()


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate:
    """A curation pass over a corpus at rest: MinHash near-dup, quality
    scores, embedding near-dup and k-means; then IVF top-10 reads for a
    seeded set of query ids against the k-means assignment."""

    item_unit = "docs"
    N_DOCS = 800
    N_VECS = 800
    QUERIES_PER_PASS = 4
    K = 10
    THRESHOLD = 0.5
    VEC_THRESHOLD = 0.9

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.corpus = gen.curate_corpus(seed, self.N_DOCS, self.N_VECS, 64)
        self.dir = self._write(os.path.join(work, "curate"), self.corpus)
        self.sims = gen.cosine_matrix(self.corpus.embeddings)
        self.passes: list[dict] = []
        self.ivf: list[tuple[int, list]] = []
        self.labelled = None  # the last pass's IVF index
        self.next_query = 0

    @staticmethod
    def _write(d: str, c: gen.CurateCorpus) -> str:
        os.makedirs(d)
        n = len(c.texts)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": c.texts,
                "lang": c.langs,
                "source": [f"src{i % 5}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in c.texts], type=pa.int64()),
            }),
            os.path.join(d, "documents.parquet"),
        )
        m = len(c.embeddings)
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(m, dtype=np.int64)),
                "embedding": pa.array(list(c.embeddings), type=pa.list_(pa.float32())),
                "label": pa.array(np.zeros(m, dtype=np.int32)),
            }),
            os.path.join(d, "embeddings.parquet"),
        )
        return d

    def sizes(self) -> dict:
        return self.corpus.sizes()

    def _pass(self, d: str, rec: Recorder) -> dict:
        from data_ingestion_py_spark import io
        from data_ingestion_py_spark.operators import dedup, kmeans, similarity, text_analysis
        from pyspark.sql import functions as F

        docs = io.load_table(self.spark, d, "documents")
        emb = io.load_table(self.spark, d, "embeddings")
        near = dedup.near_duplicates_minhash(docs, threshold=self.THRESHOLD)
        with rec.span("dedup.near_duplicates_minhash.exec"):
            pairs = _rows(near)
        scores = text_analysis.quality_scores(docs).select("doc_id", "quality_score")
        with rec.span("text_analysis.quality_scores.exec"):
            quality = _rows(scores)
        vdups = similarity.embedding_near_duplicates(
            emb.select("vec_id", F.col("embedding").alias("v")), threshold=self.VEC_THRESHOLD
        )
        with rec.span("similarity.embedding_near_duplicates.exec"):
            vpairs = _rows(vdups)
        assign, _cents = kmeans.kmeans_integer_model(emb, k=gen.N_CLUSTERS)
        # the IVF index: vectors with their cluster, materialized once per pass
        labelled = emb.drop("label").join(assign.withColumnRenamed("cid", "label"), "vec_id")
        with rec.span("kmeans.kmeans_integer_model.exec"):
            labelled = labelled.localCheckpoint(eager=True)
        return {"pairs": pairs, "quality": quality, "vpairs": vpairs, "labelled": labelled}

    def _ivf(self, labelled, qid: int, rec: Recorder) -> list:
        from data_ingestion_py_spark.operators import similarity

        top = similarity.ivf_topk(labelled, qid, k=self.K)
        with rec.span("similarity.ivf_topk.exec"):
            return _rows(top)

    def warm(self, rec: Recorder) -> None:
        """One pass and one query over the corpus. A pass over a smaller
        corpus costs about as much (the first pass is mostly one-off
        compilation) but leaves the per-row loops colder."""
        out = self._pass(self.dir, rec)
        self._ivf(out["labelled"], self.corpus.query_ids[0], rec)

    def step(self, rec: Recorder) -> bool:
        out = rec.op("write", "curate_pass", lambda: self._pass(self.dir, rec), len(self.corpus.texts))
        if out is None:
            return True
        self.passes.append({k: v for k, v in out.items() if k != "labelled"})
        for _ in range(self.QUERIES_PER_PASS):
            qid = self.corpus.query_ids[self.next_query % len(self.corpus.query_ids)]
            self.next_query += 1
            got = rec.op("read", "ivf_topk", lambda: self._ivf(out["labelled"], qid, rec))
            if got is not None:
                self.ivf.append((qid, got))
        self.labelled = out["labelled"]
        return True

    def check(self, rec: Recorder) -> dict:
        c = self.corpus
        found_share = []
        for p in self.passes:
            pairs = {(a, b) for a, b, _ in p["pairs"]}
            for a, b, j in p["pairs"]:
                want = gen.jaccard(c.texts[a], c.texts[b])
                if want < self.THRESHOLD or abs(want - j) > 1e-6:
                    rec.fail_check(f"near-dup pair ({a}, {b}) jaccard {j}")
                    break
            found_share.append(len(pairs & c.planted_pairs) / len(c.planted_pairs))
            for a, b, cos in p["vpairs"]:
                if self.sims[a, b] < self.VEC_THRESHOLD - 1e-6 or abs(self.sims[a, b] - cos) > 1e-5:
                    rec.fail_check(f"embedding near-dup pair ({a}, {b}) cosine {cos}")
                    break
            if len(p["quality"]) != len(c.texts):
                rec.fail_check("quality_scores row count")
        hits = 0
        ids = np.arange(len(c.embeddings))
        for qid, got in self.ivf:
            exact = gen.exact_topk(self.sims, ids, qid, self.K)
            ok = len(got) == self.K and qid not in [r[0] for r in got]
            cos = [r[2] for r in got]
            ok = ok and cos == sorted(cos, reverse=True)
            ok = ok and all(abs(self.sims[qid, r[0]] - r[2]) < 1e-5 for r in got)
            if not ok:
                rec.fail_check(f"ivf top-{self.K} for {qid}")
            hits += len({r[0] for r in got} & set(exact))
        near_dup_recall = float(np.mean(found_share)) if found_share else 0.0
        ann_recall = hits / (self.K * len(self.ivf)) if self.ivf else 0.0
        return {
            "recall": (near_dup_recall + ann_recall) / 2,
            "near_dup_recall": near_dup_recall,
            "ann_recall_at_10": ann_recall,
        }

    def layer_probes(self) -> dict:
        """Candidate counts, recomputed after the timed loop (traced run
        only): LSH candidates vs verified pairs, and IVF candidates (the
        vectors of the probed clusters) per returned result."""
        from data_ingestion_py_spark import io
        from data_ingestion_py_spark.operators import dedup

        docs = io.load_table(self.spark, self.dir, "documents")
        sigs = dedup.minhash_signatures(docs)
        bands, rows = dedup.lsh_params(self.THRESHOLD)
        cands = dedup.lsh_candidate_pairs(sigs.select("doc_id", "sig"), bands, rows).count()
        verified = len(self.passes[-1]["pairs"]) if self.passes else 0
        lab = {r.vec_id: r.label for r in self.labelled.select("vec_id", "label").collect()}
        labels = np.array([lab[i] for i in range(len(self.corpus.embeddings))])
        v = self.corpus.embeddings.astype(np.float64)
        cents = np.stack([v[labels == c].mean(axis=0) for c in sorted(set(labels))])
        names = sorted(set(labels))
        per = []
        for qid, got in self.ivf:
            cs = (cents @ v[qid]) / (np.linalg.norm(cents, axis=1) * np.linalg.norm(v[qid]))
            probed = [names[i] for i in sorted(range(len(names)), key=lambda i: (-cs[i], names[i]))[:2]]
            per.append((np.isin(labels, probed).sum() - 1) / max(len(got), 1))
        return {
            "dedup.candidates": float(cands),
            "dedup.verified_per_candidate": verified / cands if cands else 0.0,
            "similarity.ivf.candidates_per_result": float(np.mean(per)) if per else 0.0,
        }


WORKLOADS = {"ingest_serve": IngestServe, "curate": Curate}
