"""Tests of the benchmark's seeded generators and their expectations.

No Spark: the planted violation sets are checked against the repository's
pure-Python oracle (``tests/py_oracle.py``) and against direct NumPy
recomputations of the dataset statistics.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def _docs(table):
    for row in table.to_pylist():
        yield {"doc_id": row["doc_id"], "spans": row["spans"]}, row


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = gen.span_table(gen.corpus(np.random.default_rng(5), 200))
    b = gen.span_table(gen.corpus(np.random.default_rng(5), 200))
    c = gen.span_table(gen.corpus(np.random.default_rng(6), 200))
    assert a.equals(b)
    assert not a.equals(c)


def test_planted_violations_match_the_oracle():
    from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC
    from tests.py_oracle import validate_doc

    c = gen.corpus(np.random.default_rng(11), 300)
    oracle = []
    for doc, _ in _docs(gen.span_table(c)):
        oracle += validate_doc(FLAGSHIP_SPEC, doc)[1]
    expected = list(gen.violation_rows(c))
    assert sorted(oracle, key=repr) == sorted(expected, key=repr)
    # every family is planted, about 3% of spans
    assert {r[1] for r in expected} == set(gen.FAMILIES)
    assert 0.02 < len(expected) / c.n_spans < 0.045


def test_rollup_and_partition_filter_agree_with_rows():
    c = gen.corpus(np.random.default_rng(3), 400)
    rows = list(gen.violation_rows(c))
    roll = gen.rollup_rows(c)
    assert sum(v[0] for v in roll.values()) == c.n_docs
    assert sum(v[2] for v in roll.values()) == len(rows)
    bad = {r[0] for r in rows}
    assert sum(v[0] - v[1] for v in roll.values()) == len(bad)
    part = {gen.doc_id(d): int(c.part_key[d]) for d in range(c.n_docs)}
    some = [0, 5, 7]
    assert sorted(gen.violation_rows(c, parts=some)) == sorted(
        r for r in rows if part[r[0]] in some)


def test_multiset_hash_ignores_order_but_not_content():
    rows = [("a", "x", 1, "o"), ("b", "y", None, "p"), ("a", "x", 1, "o")]
    assert gen.multiset_hash(rows) == gen.multiset_hash(rows[::-1])
    assert gen.multiset_hash(rows) != gen.multiset_hash(rows[:2])
    assert gen.multiset_hash(rows)[0] == 3


def test_json_docs_parse_failures_and_violations():
    from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC
    from tests.py_oracle import validate_doc

    rng = np.random.default_rng(2)
    c = gen.corpus(rng, 2000)
    table, exp = gen.json_docs(c, rng)
    docs = dict(zip(table.column("doc_id").to_pylist(),
                    table.column("doc").to_pylist()))
    parse = {r[0]: r for r in exp["violations"] if r[1] == "json/parse"}
    nulls = [d for d, t in docs.items() if t is None]
    assert len(nulls) == 10 and len(parse) - len(nulls) == 20
    for did, text in docs.items():
        if did in parse:
            if text is not None:
                with pytest.raises(json.JSONDecodeError):
                    json.loads(text)
                assert parse[did][2] == text[:64]
            continue
        valid, _ = validate_doc(FLAGSHIP_SPEC, json.loads(text))
        assert valid == (did not in {r[0] for r in exp["violations"]})
    assert exp["invalid"] == len(exp["violations"])


def _chi2_ks(flat):
    """The x-dataset drift statistics per partition, recomputed here."""
    part = np.asarray(flat.column("part_key"))
    kind = np.asarray(flat.column("kind").to_pylist())
    off = np.asarray(flat.column("offset")).astype(float)
    kinds = np.unique(kind)
    g = np.array([(kind == k).sum() for k in kinds], dtype=float)
    lo, hi = off.min(), off.max()
    width = (hi - lo) / 64 or 1.0
    bucket = np.minimum(63, np.floor((off - lo) / width)).astype(int)
    g_cdf = np.cumsum(np.bincount(bucket, minlength=64)) / len(off)
    chi2, ks = {}, {}
    for p in np.unique(part):
        m = part == p
        n = np.array([(kind[m] == k).sum() for k in kinds], dtype=float)
        e = g / g.sum() * m.sum()
        chi2[p] = float(((n - e) ** 2 / e)[n > 0].sum())
        p_cdf = np.cumsum(np.bincount(bucket[m], minlength=64)) / m.sum()
        present = np.bincount(bucket[m], minlength=64) > 0
        ks[p] = float(np.abs(p_cdf - g_cdf)[present].max())
    return chi2, ks


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_dataset_anomaly_is_the_only_flagged_partition(seed):
    rng = np.random.default_rng(seed)
    c = gen.corpus(rng, 4000, bad_doc_rate=0.0)
    flat, catalog, exp = gen.dataset_tables(c, rng)
    spec = gen.DATASET_SPEC["x-dataset"]
    chi2, ks = _chi2_ks(flat)
    flagged = {p for p, v in chi2.items()
               if v > spec["drift"]["chi2"]["threshold"]}
    assert len(flagged) == exp["dataset/drift_chi2/kind"] == 1
    # the others stay far from the threshold
    assert max(v for p, v in chi2.items() if p not in flagged) < 27 / 2
    ks_flagged = {p for p, v in ks.items() if v > 0.15}
    assert ks_flagged == flagged
    assert max(v for p, v in ks.items() if p not in flagged) < 0.15 / 2
    part = np.asarray(flat.column("part_key"))
    off = np.asarray(flat.column("offset"))
    kind = np.asarray(flat.column("kind").to_pylist())
    assert {int(p) for p in np.unique(part[off < 0])} == flagged
    assert {int(p) for p in np.unique(part[kind == "video"])} == flagged
    keys = flat.column("span_key").to_pylist()
    assert len(keys) - len(set(keys)) == exp["dataset/unique/span_key"]
    cat = set(catalog.column("media_ref").to_pylist())
    used = {m for m in flat.column("media_ref").to_pylist() if m}
    assert len(used - cat) == exp["dataset/referential/media_ref"] > 0


def test_resume_hot_key_and_seeded_manifest(tmp_path):
    rng = np.random.default_rng(9)
    c = gen.corpus(rng, 8000, part_weights=gen.hot_weights(8, 3),
                   bad_doc_rate=0.1)
    share = np.bincount(c.part_key, minlength=8) / c.n_docs
    assert 0.22 < share[3] < 0.28 and share.argmax() == 3
    assert 0.08 < c.invalid_docs().mean() < 0.12
    entries = gen.manifest_entries(c, [0, 1])
    roll = gen.rollup_rows(c)
    assert [(e["docs"], e["valid_docs"], e["violation_rows"])
            for e in entries] == [roll[0], roll[1]]
    gen.write_files(gen.span_table(c), str(tmp_path), 3)
    assert pq.read_table(str(tmp_path)).num_rows == c.n_docs
