"""Seeded input generators and their closed-form expectations.

Everything here is NumPy/PyArrow only: the expectations are computed from
the generator's own planted sets, never by the engine, so a wrong engine
answer cannot hide behind a wrong expectation.

The row model is ``FLAGSHIP_SPEC``'s span table
``(doc_id, spans: array<struct<kind, text, media_ref, offset:int>>, part_key)``.
Valid spans are ``text`` (60%), ``image`` or ``audio`` (20% each); text
spans carry a word of at least four letters, media spans a
``media://N`` reference, and the offset of span ``j`` is ``8*j``.  A planted
span violates exactly one keyword family:

=================  ==========================================  ==========
family             planted value                               observed
=================  ==========================================  ==========
enum               ``kind = 'video'`` (media ref kept valid)   ``video``
minLength          text span with ``text = 'ab'``              ``ab``
minimum            ``offset = -8*(j+1)``                       the offset
multipleOf         ``offset = 8*j + 3``                        the offset
pattern            media span with ``media_ref = 'media:/N'``  the ref
then/required      text span without ``text``                  ``missing``
else/required      media span without ``media_ref``            ``missing``
=================  ==========================================  ==========
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MEDIA_IDS = 4096
# text vocabulary; the last entry is the planted too-short text
TEXTS = ["alpha", "gamma", "delta", "omega", "sigma", "kappa", "theta",
         "lambda", "ab"]
SHORT_TEXT = len(TEXTS) - 1
KINDS = ["text", "image", "audio", "video"]
TEXT, IMAGE, AUDIO, VIDEO = range(4)

FAMILIES = (
    "spans/items/kind/enum",
    "spans/items/text/minLength",
    "spans/items/offset/minimum",
    "spans/items/offset/multipleOf",
    "spans/items/media_ref/pattern",
    "spans/items/then/required/text",
    "spans/items/else/required/media_ref",
)
ENUM, MIN_LENGTH, MINIMUM, MULTIPLE_OF, PATTERN, THEN_REQ, ELSE_REQ = range(7)


@dataclass
class Corpus:
    """A generated corpus as flat per-span columns.

    ``text`` indexes ``TEXTS`` (-1 = absent); ``ref`` is the media id
    (-1 = absent), rendered ``media:/N`` when the span's family is
    ``pattern`` and ``media://N`` otherwise."""

    part_key: np.ndarray      # per doc
    starts: np.ndarray        # per doc: span offsets, length n_docs + 1
    kind: np.ndarray          # per span: index into KINDS
    text: np.ndarray          # per span
    ref: np.ndarray           # per span
    offset: np.ndarray        # per span
    family: np.ndarray        # per span: -1 or index into FAMILIES

    @property
    def n_docs(self) -> int:
        return len(self.part_key)

    @property
    def n_spans(self) -> int:
        return int(self.starts[-1])

    def doc_of_span(self) -> np.ndarray:
        return np.repeat(np.arange(self.n_docs), np.diff(self.starts))

    def span_index(self) -> np.ndarray:
        return np.arange(self.n_spans) - self.starts[self.doc_of_span()]

    def invalid_docs(self) -> np.ndarray:
        """Boolean per doc: the doc carries at least one planted span."""
        bad = np.zeros(self.n_docs, dtype=bool)
        bad[self.doc_of_span()[self.family >= 0]] = True
        return bad

    def media_ref(self, s: int):
        if self.ref[s] < 0:
            return None
        sep = "media:/" if self.family[s] == PATTERN else "media://"
        return f"{sep}{self.ref[s]}"


def doc_id(i: int) -> str:
    return f"doc-{i:012d}"


def corpus(rng: np.random.Generator, n_docs: int, span_range=(40, 69),
           part_weights=None, bad_doc_rate: float = 0.8,
           bad_spans=(1, 3)) -> Corpus:
    """``n_docs`` documents.  ``bad_doc_rate`` of them carry between
    ``bad_spans[0]`` and ``bad_spans[1]`` planted spans at distinct
    positions (``bad_doc_rate=0``: a clean corpus).  ``part_weights``
    (default uniform over 32 keys) draws each document's ``part_key``."""
    counts = rng.integers(span_range[0], span_range[1], n_docs)
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    n = int(starts[-1])
    if part_weights is None:
        part_weights = np.full(32, 1 / 32)
    part_key = rng.choice(len(part_weights), n_docs, p=part_weights)

    doc = np.repeat(np.arange(n_docs), counts)
    j = np.arange(n) - starts[doc]
    r = rng.random(n)
    kind = np.where(r < 0.6, TEXT, np.where(r < 0.8, IMAGE, AUDIO))
    word = rng.integers(0, SHORT_TEXT, n)
    ref = rng.integers(0, MEDIA_IDS, n)
    media_kind = np.where(rng.random(n) < 0.5, IMAGE, AUDIO)

    # planted spans: each bad doc ranks its spans by a random key and
    # plants the first k of them
    k = np.where(rng.random(n_docs) < bad_doc_rate,
                 rng.integers(bad_spans[0], bad_spans[1] + 1, n_docs), 0)
    order = np.lexsort((rng.random(n), doc))
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n) - starts[doc[order]]
    family = np.where(rank < k[doc], rng.integers(0, len(FAMILIES), n), -1)

    f = family
    kind = np.where(np.isin(f, (MIN_LENGTH, THEN_REQ)), TEXT, kind)
    kind = np.where(np.isin(f, (PATTERN, ELSE_REQ)) & (kind == TEXT),
                    media_kind, kind)
    kind = np.where(f == ENUM, VIDEO, kind)
    is_text = kind == TEXT
    text = np.where(is_text, word, -1)
    text = np.where(f == MIN_LENGTH, SHORT_TEXT, text)
    text = np.where(f == THEN_REQ, -1, text)
    ref = np.where(is_text | (f == ELSE_REQ), -1, ref)
    offset = 8 * j
    offset = np.where(f == MINIMUM, -8 * (j + 1), offset)
    offset = np.where(f == MULTIPLE_OF, 8 * j + 3, offset)
    return Corpus(part_key.astype(np.int32), starts, kind.astype(np.int8),
                  text.astype(np.int8), ref.astype(np.int32),
                  offset.astype(np.int32), family.astype(np.int8))


# --------------------------------------------------------------------------
# arrow / parquet writers
# --------------------------------------------------------------------------

def _strings(vocab, idx: np.ndarray) -> pa.Array:
    return pa.array(vocab, pa.string()).take(pa.array(idx, mask=idx < 0))


def _media_refs(c: Corpus) -> pa.Array:
    sep = pc.if_else(pa.array(c.family == PATTERN), "media:/", "media://")
    ids = pa.array(c.ref, mask=c.ref < 0).cast(pa.string())
    return pc.binary_join_element_wise(sep, ids, "")


def doc_ids(docs: np.ndarray) -> pa.Array:
    digits = pc.utf8_lpad(pa.array(docs).cast(pa.string()), 12, "0")
    return pc.binary_join_element_wise("doc-", digits, "")


def span_table(c: Corpus) -> pa.Table:
    structs = pa.StructArray.from_arrays(
        [_strings(KINDS, c.kind), _strings(TEXTS, c.text), _media_refs(c),
         pa.array(c.offset, pa.int32())],
        names=["kind", "text", "media_ref", "offset"])
    spans = pa.ListArray.from_arrays(pa.array(c.starts, pa.int32()), structs)
    return pa.table({
        "doc_id": doc_ids(np.arange(c.n_docs)),
        "spans": spans,
        "part_key": pa.array(c.part_key, pa.int32()),
    })


def write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """``table`` split row-wise into ``n_files`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))


# --------------------------------------------------------------------------
# expectations
# --------------------------------------------------------------------------

def multiset_hash(rows) -> tuple[int, int]:
    """(row count, order-insensitive hash) of an iterable of tuples: each
    row's 64-bit blake2b digest, summed mod 2**64."""
    n = 0
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
        n += 1
    return n, acc


def violation_rows(c: Corpus, parts=None):
    """The planted violations as ``(doc_id, constraint_id, span_index,
    observed)`` rows, exactly the typed ``violations()`` output; ``parts``
    restricts them to those partition keys."""
    doc = c.doc_of_span()
    j = c.span_index()
    idx = np.nonzero(c.family >= 0)[0]
    if parts is not None:
        idx = idx[np.isin(c.part_key[doc[idx]], list(parts))]
    for s in idx:
        f = int(c.family[s])
        if f == ENUM:
            obs = "video"
        elif f == MIN_LENGTH:
            obs = TEXTS[SHORT_TEXT]
        elif f in (MINIMUM, MULTIPLE_OF):
            obs = str(int(c.offset[s]))
        elif f == PATTERN:
            obs = c.media_ref(s)
        else:
            obs = "missing"
        yield (doc_id(int(doc[s])), FAMILIES[f], int(j[s]), obs)


def rollup_rows(c: Corpus) -> dict[int, tuple[int, int, int]]:
    """part_key -> (docs, valid_docs, violation_rows)."""
    bad = c.invalid_docs()
    viol = np.bincount(c.doc_of_span()[c.family >= 0], minlength=c.n_docs)
    out = {}
    for pk in np.unique(c.part_key):
        m = c.part_key == pk
        out[int(pk)] = (int(m.sum()), int((m & ~bad).sum()),
                        int(viol[m].sum()))
    return out


# --------------------------------------------------------------------------
# json-variant: the corpus rendered as JSON text
# --------------------------------------------------------------------------

def _span_obj(c: Corpus, s: int) -> dict:
    o = {"kind": KINDS[c.kind[s]], "offset": int(c.offset[s])}
    if c.text[s] >= 0:
        o["text"] = TEXTS[c.text[s]]
    if c.ref[s] >= 0:
        o["media_ref"] = c.media_ref(s)
    return o


def _canonical(value) -> str:
    # the engine reports a failing array as its parsed VARIANT value,
    # re-serialized with sorted keys and no whitespace
    return json.dumps(value, separators=(",", ":"), sort_keys=True)


def json_docs(c: Corpus, rng: np.random.Generator,
              malformed_rate: float = 0.01, null_rate: float = 0.005):
    """(table, expected) for the JSON workload.

    ``table``: ``(doc_id, doc)`` where ``doc`` is the document's JSON text,
    the first half of it (unparseable), or NULL; the rates are rounded to
    whole documents, at least one of each.  ``expected``: the violation
    rows ``(doc_id, constraint_id, observed)`` the engine must emit, and
    the number of invalid documents."""
    counts = [max(1, round(r * c.n_docs)) for r in (null_rate,
                                                    malformed_rate)]
    picked = rng.choice(c.n_docs, sum(counts), replace=False)
    nulls = set(picked[:counts[0]].tolist())
    malformed = set(picked[counts[0]:].tolist())
    bad = c.invalid_docs()
    ids, docs, viol = [], [], []
    for d in range(c.n_docs):
        did = doc_id(d)
        spans = [_span_obj(c, s) for s in range(c.starts[d], c.starts[d + 1])]
        text = json.dumps({"doc_id": did, "spans": spans})
        if d in nulls:
            text = None
            viol.append((did, "json/parse", None))
        elif d in malformed:
            text = text[: len(text) // 2]
            viol.append((did, "json/parse", text[:64]))
        elif bad[d]:
            viol.append((did, "spans/items", _canonical(spans)))
        ids.append(did)
        docs.append(text)
    table = pa.table({"doc_id": pa.array(ids, pa.string()),
                      "doc": pa.array(docs, pa.string())})
    return table, {"violations": viol, "invalid": len(viol)}


# --------------------------------------------------------------------------
# dataset-batch: one row per span + a media catalog
# --------------------------------------------------------------------------

DATASET_SPEC = {
    "x-dataset": {
        "columns": {
            "text": {"max_null_rate": 0.9},
            "offset": {"min": 0},
            "kind": {"max_distinct": 3},
        },
        "unique": ["span_key"],
        "referential": {
            "media_ref": {"catalog": "media_catalog", "key": "media_ref"},
        },
        "drift": {
            "chi2": {"column": "kind", "threshold": 27.0},
            "ks": {"column": "offset", "threshold": 0.15, "bins": 64},
        },
    },
}


def dataset_tables(c: Corpus, rng: np.random.Generator, n_dups: int = 16,
                   missing_share: int = 16):
    """(flat, catalog, expected) for the dataset workload, from a clean
    corpus ``c``.

    One seeded anomalous partition gets a shifted kind mix (text share
    0.5 instead of 0.6), twenty ``video`` rows, eight offsets of -8 and
    every other offset shifted by 2**24, so it, and only it, breaks the
    ``offset`` minimum, the ``kind`` cardinality bound and both drift
    tests.  ``n_dups`` span keys appear twice.  The catalog lacks each
    media id with probability ``1/missing_share``.  ``expected`` maps
    constraint_id -> number of output rows."""
    doc = c.doc_of_span()
    j = c.span_index()
    part = c.part_key[doc]
    kind = c.kind.copy()
    text = c.text.copy()
    ref = c.ref.copy()
    offset = c.offset.astype(np.int64)

    a = np.nonzero(part == rng.integers(0, 32))[0]
    flip = a[(kind[a] == TEXT) & (rng.random(a.size) < 1 / 6)]
    kind[flip] = IMAGE
    text[flip] = -1
    ref[flip] = rng.integers(0, MEDIA_IDS, flip.size)
    kind[rng.choice(a[kind[a] != TEXT], 20, replace=False)] = VIDEO
    offset[a] += 1 << 24
    offset[rng.choice(a, 8, replace=False)] = -8

    rows = np.concatenate([np.arange(c.n_spans),
                           rng.choice(c.n_spans, n_dups, replace=False)])
    ids = doc_ids(doc[rows])
    span_key = pc.binary_join_element_wise(
        ids, pa.array(j[rows]).cast(pa.string()), ":")
    refs = pa.array(ref[rows], mask=ref[rows] < 0).cast(pa.string())
    flat = pa.table({
        "doc_id": ids,
        "part_key": pa.array(part[rows], pa.int32()),
        "span_index": pa.array(j[rows], pa.int32()),
        "span_key": span_key,
        "kind": _strings(KINDS, kind[rows]),
        "text": _strings(TEXTS, text[rows]),
        "media_ref": pc.binary_join_element_wise("media://", refs, ""),
        "offset": pa.array(offset[rows], pa.int32()),
    })
    missing = rng.random(MEDIA_IDS) < 1 / missing_share
    catalog = pa.table({"media_ref": pa.array(
        [f"media://{x}" for x in np.nonzero(~missing)[0]], pa.string())})
    used = np.zeros(MEDIA_IDS, dtype=bool)
    used[ref[ref >= 0]] = True
    expected = {
        "dataset/offset/min": 1,
        "dataset/kind/max_cardinality": 1,
        "dataset/unique/span_key": n_dups,
        "dataset/referential/media_ref": int((missing & used).sum()),
        "dataset/drift_chi2/kind": 1,
        "dataset/drift_ks/offset": 1,
    }
    return flat, catalog, expected


# --------------------------------------------------------------------------
# resume-hot-part: hot partition key + pre-seeded manifest
# --------------------------------------------------------------------------

def hot_weights(n_keys: int, hot: int,
                hot_share: float = 0.25) -> np.ndarray:
    w = np.full(n_keys, (1 - hot_share) / (n_keys - 1))
    w[hot] = hot_share
    return w


def manifest_entries(c: Corpus, done) -> list[dict]:
    """Manifest entries, in the engine's ``part=K.json`` shape, for the
    partitions in ``done``, as an earlier run that was killed left them."""
    roll = rollup_rows(c)
    out = []
    for pk in sorted(done):
        docs, valid, vr = roll[pk]
        out.append({"part_key": int(pk), "docs": docs, "valid_docs": valid,
                    "violation_rows": vr, "passed": valid == docs,
                    "lineage": "", "sketches_b64": None, "status": "done"})
    return out
