"""Seeded inputs for the three workloads, and the values the checks expect.

Nothing here touches Spark. Every byte the program receives is built
from the workload seed, and every expected value is recomputed here by
plain Python/numpy, independently of the program under test:

- ``ingest_corpus``: multi-page PDF files. Text pages carry word soup in
  Flate-compressed content streams; scanned documents carry only page
  images (DC-only baseline JPEGs typeset in the house bitmap font), so
  the OCR-lite branch of ``sources.pdf.extract_pages`` runs on them.
- ``command_stream``: catalog command batches (uploads, removes,
  duplicate uploads, invalid codes, category add then cascade remove,
  expiry sweeps) plus a pure-Python replay of ``apply_actions``.
- ``curate_corpus``: word-soup documents with planted near-duplicates
  and clustered embeddings with planted near-duplicate vectors.
"""

from __future__ import annotations

import datetime
import hashlib
import random
import zlib
from dataclasses import dataclass, field

import numpy as np

#: The word soup of the ``documents`` fixture table.
VOCAB = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark dup group query row data filter customer "
    "line value agg column vector"
).split()

NUM_SENT, STRIDE, SENT_TOKENS = 5, 3, 8  # operators.snippetize defaults
SHINGLE_K = 3  # operators.dedup default
DIM = 64

# Traffic shape. Neither the reference script nor this repo records how
# often a PDF is a scan, how long documents are, how often catalog
# uploads repeat or how often expiry sweeps run, so these are assumptions
# of the benchmark (perfbench/README.md, "Input sizes"), fixed here so
# that every run and every seed shares them.
SCANNED_SHARE = 0.25  # share of ingest documents that are page images only
PAGES_PER_DOC = (2, 4)  # ingest document length, pages, inclusive
EXPIRE_EVERY = 3  # catalog batches between expiry sweeps
DUP_RATE = 0.1  # curate documents (and vectors) that are planted near-copies
N_CLUSTERS = 8  # Gaussian blobs in the curate vectors; the k of its k-means


def seeded_rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"perfbench:{seed}:{stream}")


def _nprng(seed: int, stream: str) -> np.random.Generator:
    digest = hashlib.sha256(f"perfbench:{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def soup(rng: random.Random, n_words: int) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(n_words)]


# ---------------------------------------------------------------------------
# Snippet replay (operators.snippetize, tokens mode)
# ---------------------------------------------------------------------------


def snippets_of(text: str | None) -> list[tuple[int, str]]:
    """(snippet_id, snippet_text) windows exactly as ``snippetize`` cuts
    them: whitespace tokens, 8-token pseudo-sentences, 5-sentence
    windows at stride 3, ids dense from 1."""
    if text is None:
        return []
    toks = [t for t in text.split(" ") if t != ""]
    sents = [
        " ".join(toks[i : i + SENT_TOKENS])
        for i in range(0, len(toks), SENT_TOKENS)
    ]
    return [
        (start // STRIDE + 1, " ".join(sents[start : start + NUM_SENT]))
        for start in range(0, len(sents), STRIDE)
    ]


def table_digest(rows) -> str:
    """Order-independent digest of a table given as tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# PDF writer
# ---------------------------------------------------------------------------

#: DC-only gray baseline JPEG, one 8x8 block per font cell, a restart
#: marker after every block (DRI=1) so each block's entropy bytes are a
#: constant: DC category 7 with the largest/smallest magnitude, then EOB.
_INK_BLOCK, _PAPER_BLOCK = bytes.fromhex("E3EF"), bytes.fromhex("EC0F")
_CELL = 8


def _jpeg_header(w: int, h: int) -> bytes:
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes([8] + [16] * 63)
    out += (
        b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8])
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0])
    )
    out += b"\xff\xc4" + (27).to_bytes(2, "big") + b"\x00"
    out += bytes([0, 0, 7, 1] + [0] * 12) + bytes(range(8))
    out += b"\xff\xc4" + (20).to_bytes(2, "big") + b"\x10" + bytes([1] + [0] * 15) + b"\x00"
    out += b"\xff\xdd" + (4).to_bytes(2, "big") + (1).to_bytes(2, "big")
    out += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0, 0, 63, 0])
    return bytes(out)


def glyph_jpeg(lines: list[str], font: dict) -> tuple[bytes, int, int]:
    """Typeset equal-length ``lines`` in ``font`` (char -> rows of cell
    bits) as a DC-only JPEG; returns (jpeg, width, height)."""
    th, tw = len(font[" "]), len(font[" "][0])
    n_cols = len(lines[0])
    bw, bh = n_cols * tw, len(lines) * th
    out = bytearray(_jpeg_header(bw * _CELL, bh * _CELL))
    n = bw * bh
    for i in range(n):
        r, c = divmod(i, bw)
        glyph = font[lines[r // th][c // tw]]
        out += _INK_BLOCK if glyph[r % th][c % tw] else _PAPER_BLOCK
        if i != n - 1:
            out += bytes([0xFF, 0xD0 + (i % 8)])
    out += b"\xff\xd9"
    return bytes(out), bw * _CELL, bh * _CELL


def _obj(num: int, body: bytes) -> bytes:
    return b"%d 0 obj\n" % num + body + b"\nendobj\n"


def _stream(num: int, data: bytes, extra: bytes = b"") -> bytes:
    return _obj(
        num,
        b"<< /Length %d%s >>\nstream\n" % (len(data), extra) + data + b"\nendstream",
    )


def pdf_file(pages: list) -> bytes:
    """A classic-trailer PDF. Each page is ``("text", lines)`` (one Tj
    per line, Flate content stream) or ``("image", (jpeg, w, h))``."""
    n = len(pages)
    kids = b" ".join(b"%d 0 R" % (3 + 3 * i) for i in range(n))
    out = b"%PDF-1.7\n" + _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    out += _obj(2, b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n))
    for i, (kind, body) in enumerate(pages):
        page, content, image = 3 + 3 * i, 4 + 3 * i, 5 + 3 * i
        if kind == "text":
            ops = b" T* ".join(b"(" + ln.encode() + b") Tj" for ln in body)
            out += _obj(page, b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>" % content)
            out += _stream(
                content,
                zlib.compress(b"BT /F1 10 Tf 12 TL 72 720 Td " + ops + b" ET"),
                b" /Filter /FlateDecode",
            )
        else:
            jpg, w, h = body
            out += _obj(
                page,
                b"<< /Type /Page /Parent 2 0 R /Resources << /XObject << /Im0 %d 0 R >> >>"
                b" /Contents %d 0 R >>" % (image, content),
            )
            out += _stream(content, b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h))
            out += _stream(
                image,
                jpg,
                b" /Type /XObject /Subtype /Image /Width %d /Height %d"
                b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode" % (w, h),
            )
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n0\n%%%%EOF" % (3 + 3 * n)
    return out


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


@dataclass
class IngestDoc:
    name: str
    scanned: bool
    pages: list[str]  # expected page_text, one per page
    pdf: bytes


@dataclass
class IngestCorpus:
    batches: list[list[IngestDoc]]
    scanned_share: float

    def snippet_rows(self, batch: int) -> list[tuple]:
        """Expected rows of one batch's snippet table:
        (document_name, page_number, snippet_id, snippet_text, needs_ocr)."""
        return [
            (d.name, p + 1, sid, text, d.scanned)
            for d in self.batches[batch]
            for p, page in enumerate(d.pages)
            for sid, text in snippets_of(page)
        ]

    def sizes(self) -> dict:
        docs = [d for b in self.batches for d in b]
        pages = sum(len(d.pages) for d in docs)
        ocr_pages = sum(len(d.pages) for d in docs if d.scanned)
        return {
            "batches": len(self.batches),
            "docs_per_batch": len(self.batches[0]),
            "pages": pages,
            "pdf_bytes": sum(len(d.pdf) for d in docs),
            "ocr_page_frac": ocr_pages / pages,
            "scanned_doc_share": self.scanned_share,
        }


def ingest_corpus(seed: int, n_batches: int, docs_per_batch: int, font: dict) -> IngestCorpus:
    """Text documents: ~12-word lines, 6-10 lines a page. Scanned
    documents: 4 lines of 24 glyphs a page, upper-cased soup words, each
    line indented by one space (the leading all-paper glyph makes the
    digits-only font refuse at the first window, so the alphanumeric
    font reads the page). The scanned set is exactly
    ``round(SCANNED_SHARE * docs_per_batch)`` documents per batch."""
    rng = seeded_rng(seed, "ingest")
    n_scanned = round(SCANNED_SHARE * docs_per_batch)
    cols = 24
    batches = []
    for b in range(n_batches):
        scanned_ix = set(rng.sample(range(docs_per_batch), n_scanned))
        docs = []
        for d in range(docs_per_batch):
            name = f"b{b:03d}-d{d:03d}-{rng.randrange(16**6):06x}.pdf"
            n_pages = rng.randint(*PAGES_PER_DOC)
            texts, pdf_pages = [], []
            for _ in range(n_pages):
                if d in scanned_ix:
                    lines = []
                    for _ in range(4):
                        words, line = [], " "
                        while True:
                            w = rng.choice(VOCAB).upper()
                            cand = line + (" " if words else "") + w
                            if len(cand) > cols:
                                break
                            words.append(w)
                            line = cand
                        lines.append(line.ljust(cols))
                    texts.append("\n".join(lines))
                    pdf_pages.append(("image", glyph_jpeg(lines, font)))
                else:
                    lines = [
                        " ".join(soup(rng, 12)) for _ in range(rng.randint(6, 10))
                    ]
                    texts.append("\n".join(lines))
                    pdf_pages.append(("text", lines))
            docs.append(IngestDoc(name, d in scanned_ix, texts, pdf_file(pdf_pages)))
        batches.append(docs)
    return IngestCorpus(batches, n_scanned / docs_per_batch)


# ---------------------------------------------------------------------------
# catalog_serve
# ---------------------------------------------------------------------------

UPLOAD, REMOVE, ADD_CAT, REMOVE_CAT = 1, 0, 2, 3
INVALID_CODE = 9
PAST, FUTURE = datetime.date(2001, 1, 1), datetime.date(2099, 1, 1)
SEED_CATEGORIES = {1: "Collective Agreements", 2: "Benefits"}


@dataclass
class CommandBatch:
    rows: list[dict]  # ACTION_SCHEMA dicts
    expire_first: bool  # run expire_documents_auto before the drain
    reads: list[tuple]  # ("category", id) | ("keyword", word) | ("topk", vec_id)


@dataclass
class CatalogReplay:
    """Pure-Python state under ``apply_actions``' batch-order contract:
    within a batch uploads, then removes, then category adds, then
    category removes (with cascade); across batches, FIFO."""

    categories: dict = field(default_factory=lambda: dict(SEED_CATEGORIES))
    docs: dict = field(default_factory=dict)  # name -> doc dict
    audit: dict = field(default_factory=dict)  # seq -> status
    changed_rows: int = 0  # rows inserted, deleted or updated

    def expire(self) -> None:
        for d in self.docs.values():
            exp = d["document_expiryDate"]
            if exp is not None and exp < datetime.date.today() and d["status"] == "Active":
                d["status"] = "Expired"
                self.changed_rows += 1

    def apply(self, rows: list[dict]) -> None:
        pre = set(self.docs)
        uploads = [r for r in rows if r["action_code"] == UPLOAD]
        first: dict[str, dict] = {}
        for r in sorted(uploads, key=lambda r: r["seq"]):
            first.setdefault(r["document_name"], r)
        for r in uploads:
            name = r["document_name"]
            dup = name in pre or first[name] is not r
            self.audit[r["seq"]] = "duplicate" if dup else "ok"
        for name, r in first.items():
            if name not in pre:
                self.docs[name] = {
                    "document_id": r["document_id"],
                    "category_id": r["category_id"],
                    "document_expiryDate": r["document_expiryDate"],
                    "status": "Active",
                    "pages": list(r["page_texts"]),
                }
                self.changed_rows += 1 + len(r["page_texts"])
        visible = pre | set(first)
        for r in rows:
            if r["action_code"] == REMOVE:
                name = r["document_name"]
                self.audit[r["seq"]] = "ok" if name in visible else "not_found"
                gone = self.docs.pop(name, None)
                if gone is not None:
                    self.changed_rows += 1 + len(gone["pages"])
        for r in rows:
            if r["action_code"] == ADD_CAT:
                self.audit[r["seq"]] = "ok"
                cid, cname = r["category_id"], r["category_name"]
                if cid not in self.categories and cname not in self.categories.values():
                    self.categories[cid] = cname
                    self.changed_rows += 1
        for r in rows:
            if r["action_code"] == REMOVE_CAT:
                self.audit[r["seq"]] = "ok"
                cid = r["category_id"]
                if self.categories.pop(cid, None) is not None:
                    self.changed_rows += 1
                for name in [n for n, d in self.docs.items() if d["category_id"] == cid]:
                    self.changed_rows += 1 + len(self.docs.pop(name)["pages"])
        for r in rows:
            if r["action_code"] not in (UPLOAD, REMOVE, ADD_CAT, REMOVE_CAT):
                self.audit[r["seq"]] = "rejected"

    # expected answers of the three read kinds -----------------------------

    def category_snippets(self, cid: int) -> list[tuple]:
        return [
            (name, p + 1, sid, text)
            for name, d in self.docs.items()
            if d["category_id"] == cid and d["status"] == "Active"
            for p, page in enumerate(d["pages"])
            for sid, text in snippets_of(page)
        ]

    def keyword_snippets(self, word: str) -> list[tuple]:
        return [
            (name, p + 1, sid)
            for name, d in self.docs.items()
            if d["status"] == "Active"
            for p, page in enumerate(d["pages"])
            for sid, text in snippets_of(page)
            if word in text
        ]

    def active_first_pages(self) -> dict[int, str]:
        return {
            d["document_id"]: d["pages"][0]
            for d in self.docs.values()
            if d["status"] == "Active" and d["pages"]
        }


@dataclass
class CommandStream:
    batches: list[CommandBatch]
    embeddings: np.ndarray  # (max_document_id + 1, DIM) float32, row = vec_id

    def sizes(self) -> dict:
        rows = [r for b in self.batches for r in b.rows]
        return {
            "batches": len(self.batches),
            "commands": len(rows),
            "uploads": sum(r["action_code"] == UPLOAD for r in rows),
            "pages": sum(len(r["page_texts"] or []) for r in rows),
            "reads": sum(len(b.reads) for b in self.batches),
            "embeddings": int(self.embeddings.shape[0]),
            "embedding_bytes": int(self.embeddings.nbytes),
        }


def command_stream(
    seed: int, n_batches: int, commands_per_batch: int, reads_per_batch: int
) -> CommandStream:
    """Batches of exactly ``commands_per_batch`` commands. Each batch holds
    fresh uploads (1-3 pages, a tenth of them with a past expiry date,
    some carrying a rare keyword), one same-batch duplicate, one
    duplicate of an earlier name, removes of ``commands_per_batch // 8``
    earlier names plus one never-uploaded name, and one invalid code;
    fresh uploads fill the rest. Batch 1 adds category 3 and uploads
    into it; batch 3 removes it (cascade). Every ``EXPIRE_EVERY``-th
    batch runs an expiry sweep first. Within a batch the rows are
    shuffled; where one name meets two commands in a batch (the
    same-batch duplicate, a duplicate of a name the batch also removes),
    the batch-order contract decides, and the replay follows it."""
    rng = seeded_rng(seed, "catalog")
    keywords = [f"kw{rng.randrange(1000):03d}x{i}" for i in range(8)]
    seq, doc_id = 0, 0
    live: list[str] = []
    batches = []

    def cmd(**kw) -> dict:
        nonlocal seq
        seq += 1
        row = dict.fromkeys(
            ("document_id", "category_id", "document_name", "file_link",
             "page_texts", "document_tags", "document_expiryDate", "category_name")
        )
        row.update(seq=seq, **kw)
        return row

    def upload(name: str, cats: list[int]) -> dict:
        nonlocal doc_id
        doc_id += 1
        pages = []
        for _ in range(rng.randint(1, 3)):
            words = soup(rng, rng.randint(30, 90))
            if rng.random() < 0.3:
                words[rng.randrange(len(words))] = rng.choice(keywords)
            pages.append(" ".join(words))
        return cmd(
            action_code=UPLOAD,
            document_id=doc_id,
            category_id=rng.choice(cats),
            document_name=name,
            file_link=f"https://docs.example/{name}",
            page_texts=pages,
            document_tags=[rng.choice(["union", "retired", "policy"])],
            document_expiryDate=PAST if rng.random() < 0.1 else rng.choice([None, FUTURE]),
        )

    for b in range(n_batches):
        cats = [1, 2, 3] if b in (1, 2) else [1, 2]
        rows = []
        if b == 1:
            rows.append(cmd(action_code=ADD_CAT, category_id=3, category_name="contracts"))
        if b == 3:
            rows.append(cmd(action_code=REMOVE_CAT, category_id=3))
        n_removes = min(len(live), max(1, commands_per_batch // 8))
        # the category commands, the duplicates, the removes, a remove of
        # a never-uploaded name and an invalid code; fresh uploads fill up
        n_new = commands_per_batch - len(rows) - 1 - (1 if live else 0) - n_removes - 2
        new = [f"doc-{b:03d}-{i:03d}-{rng.randrange(16**4):04x}" for i in range(n_new)]
        rows += [upload(n, cats) for n in new]
        rows.append(upload(new[0], cats))  # same-batch duplicate (later seq)
        if live:
            rows.append(upload(rng.choice(live), cats))  # duplicate of an earlier upload
            for name in rng.sample(live, n_removes):
                rows.append(cmd(action_code=REMOVE, document_name=name))
                live.remove(name)
        rows.append(cmd(action_code=REMOVE, document_name=f"never-{b}"))
        rows.append(cmd(action_code=INVALID_CODE, document_name=f"bogus-{b}"))
        rng.shuffle(rows)
        live += new
        reads = []
        for i in range(reads_per_batch):
            kind = ("category", "keyword", "topk")[i % 3]
            if kind == "category":
                reads.append((kind, rng.choice([1, 2])))
            elif kind == "keyword":
                reads.append((kind, rng.choice(keywords)))
            else:
                reads.append((kind, rng.randint(1, doc_id)))
        batches.append(CommandBatch(rows, b > 0 and b % EXPIRE_EVERY == 0, reads))
    emb = _nprng(seed, "catalog-emb").standard_normal((doc_id + 1, DIM)).astype(np.float32)
    return CommandStream(batches, emb)


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    toks = [t for t in text.split(" ") if t != ""]
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return round(len(sa & sb) / len(sa | sb), 6) if sa | sb else 0.0


@dataclass
class CurateCorpus:
    texts: list[str]  # doc_id = index
    langs: list[str]
    planted_pairs: set[tuple[int, int]]
    embeddings: np.ndarray  # (n_vecs, DIM) float32, vec_id = index
    planted_vec_pairs: set[tuple[int, int]]
    query_ids: list[int]

    def sizes(self) -> dict:
        return {
            "docs": len(self.texts),
            "text_bytes": sum(len(t) for t in self.texts),
            "planted_pairs": len(self.planted_pairs),
            "planted_dup_rate": 2 * len(self.planted_pairs) / len(self.texts),
            "vectors": int(self.embeddings.shape[0]),
            "vector_bytes": int(self.embeddings.nbytes),
            "planted_vec_pairs": len(self.planted_vec_pairs),
            "queries": len(self.query_ids),
        }


def curate_corpus(seed: int, n_docs: int, n_vecs: int, n_queries: int) -> CurateCorpus:
    """``DUP_RATE`` of the documents are edited copies of another
    document (one or two word substitutions in 40-80 words, so the
    shingle Jaccard stays well above 0.5). Vectors are ``N_CLUSTERS``
    Gaussian blobs; ``DUP_RATE`` of them are copies of another vector
    with 1% noise (cosine > 0.99)."""
    rng = seeded_rng(seed, "curate")
    texts: list[str] = []
    planted: set[tuple[int, int]] = set()
    n_dups = int(n_docs * DUP_RATE / 2)
    originals = n_docs - n_dups
    for _ in range(originals):
        texts.append(" ".join(soup(rng, rng.randint(40, 80))))
    for src in rng.sample(range(originals), n_dups):
        words = texts[src].split(" ")
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        planted.add((src, len(texts)))
        texts.append(" ".join(words))
    langs = [rng.choice(["en", "fr", "es", "de", "zh"]) for _ in texts]

    nrng = _nprng(seed, "curate-emb")
    centers = nrng.standard_normal((N_CLUSTERS, DIM))
    n_vdups = int(n_vecs * DUP_RATE / 2)
    base = centers[nrng.integers(0, N_CLUSTERS, n_vecs - n_vdups)]
    base = base + 0.6 * nrng.standard_normal(base.shape)
    src = nrng.choice(n_vecs - n_vdups, n_vdups, replace=False)
    dups = base[src] + 0.01 * nrng.standard_normal((n_vdups, DIM))
    emb = np.vstack([base, dups]).astype(np.float32)
    vec_pairs = {(int(s), n_vecs - n_vdups + i) for i, s in enumerate(src)}
    queries = [int(q) for q in nrng.choice(n_vecs, n_queries, replace=False)]
    return CurateCorpus(texts, langs, planted, emb, vec_pairs, queries)


def cosine_matrix(emb: np.ndarray) -> np.ndarray:
    v = emb.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    return v @ v.T


def exact_topk(sims: np.ndarray, ids: np.ndarray, query_row: int, k: int) -> list[int]:
    """Ids of the k most cosine-similar rows to ``query_row`` (itself
    excluded), ties to the lower id — the order ``cosine_topk`` uses."""
    order = sorted(
        (i for i in range(len(ids)) if i != query_row),
        key=lambda i: (-round(float(sims[query_row, i]), 6), int(ids[i])),
    )
    return [int(ids[i]) for i in order[:k]]
