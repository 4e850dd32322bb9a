"""The benchmark workloads: inputs, timed jobs and output checks.

A workload generates its inputs from the seed (``perfbench.gen``), writes
them as parquet under its work directory, and exposes two jobs, run in
this order in every loop cycle:

- ``primary`` (``docs_per_s``): full violation output of every document;
- ``batch`` (``batch_s_p50``): the batch-level job of the workload.

Every job is timed from the first engine call through plan build,
execution and the result sink.  Its output is checked afterwards, outside
the timed region, against the generator's closed-form expectation.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

SPAN_DDL = ("doc_id string, spans array<struct<kind:string, text:string, "
            "media_ref:string, offset:int>>, part_key int")
FLAT_DDL = ("doc_id string, part_key int, span_index int, span_key string, "
            "kind string, text string, media_ref string, offset int")
JSON_DDL = "doc_id string, doc string"


@dataclass
class Job:
    name: str
    run: Callable[[], Any]              # timed: engine call through sink
    check: Callable[[Any], bool]        # untimed: output vs expectation
    reset: Callable[[], None] | None = None   # untimed, before each run


def _read_rows(path: str, cols) -> list[tuple]:
    t = pq.read_table(path, columns=list(cols))
    return list(zip(*[t.column(c).to_pylist() for c in cols]))


def _spec():
    from jsonschema_rs_spark.flagship import FLAGSHIP_SPEC

    return FLAGSHIP_SPEC


class Workload:
    name = ""

    def __init__(self, root: str, seed: int, cores: int):
        self.root = root
        self.seed = seed
        self.n_files = 2 * cores    # two files per core
        self.docs = 0               # documents covered by the primary job
        self.unfinished_bytes = 0   # input bytes a resumed run revalidates

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def write_inputs(self) -> None:
        """Generate the seeded inputs and write them as parquet."""
        raise NotImplementedError

    def open(self, spark) -> None:
        """Open the written inputs as DataFrames in ``spark``."""
        raise NotImplementedError

    def jobs(self) -> list[Job]:
        """The primary and batch jobs, in loop order."""
        raise NotImplementedError

    def bytes_written(self) -> int:
        """Bytes the batch job's last run left on disk."""
        return 0


# --------------------------------------------------------------------------
# typed-flagship
# --------------------------------------------------------------------------

class TypedFlagship(Workload):
    """Typed span table under ``FLAGSHIP_SPEC``; the batch job resumes a
    killed per-partition run over a hot-key copy of the same kind of
    table."""

    name = "typed-flagship"
    n_docs = 12_000
    resume_docs = 4_000
    n_keys = 4
    hot_share = 0.5     # the hot key holds 3x the docs of each other key

    def write_inputs(self):
        rng = np.random.default_rng(self.seed)
        c = gen.corpus(rng, self.n_docs)
        gen.write_files(gen.span_table(c), self.path("table"), self.n_files)
        self.docs = c.n_docs
        self.exp = {"violations": gen.multiset_hash(gen.violation_rows(c))}
        self._write_resume(rng)

    def _write_resume(self, rng) -> None:
        """The hot-key table, partitioned by ``part_key`` on disk, and the
        manifest a killed run left behind: half the keys committed, the
        hot one not."""
        hot = int(rng.integers(0, self.n_keys))
        c = gen.corpus(rng, self.resume_docs,
                       part_weights=gen.hot_weights(self.n_keys, hot,
                                                    self.hot_share),
                       bad_doc_rate=0.1)
        others = [k for k in range(self.n_keys) if k != hot]
        done = rng.choice(others, self.n_keys // 2, replace=False).tolist()
        pq.write_to_dataset(gen.span_table(c), self.path("hot"),
                            partition_cols=["part_key"])
        os.makedirs(self.path("seed_manifest"))
        for e in gen.manifest_entries(c, done):
            with open(self.path("seed_manifest",
                                f"part={e['part_key']}.json"), "w") as f:
                json.dump(e, f)
        self.todo = [k for k in range(self.n_keys) if k not in done]
        self.exp["resume_rollup"] = gen.rollup_rows(c)
        self.exp["resume_rows"] = gen.multiset_hash(
            gen.violation_rows(c, parts=self.todo))
        self.unfinished_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for k in self.todo
            for d in [self.path("hot", f"part_key={k}")]
            for f in os.listdir(d))

    def open(self, spark):
        self.df = spark.read.schema(SPAN_DDL).parquet(self.path("table"))
        self.hot = spark.read.schema(SPAN_DDL).parquet(self.path("hot"))

    # jobs ------------------------------------------------------------------

    def _violations(self, df, out):
        from jsonschema_rs_spark.compiler import compile_spec
        from jsonschema_rs_spark.plans.validate import violations

        compiled = compile_spec(_spec(), df.schema)
        violations(df, compiled).write.mode("overwrite").parquet(out)
        return out

    def _check_violations(self, out):
        rows = _read_rows(out, ("doc_id", "constraint_id", "span_index",
                                "observed"))
        return gen.multiset_hash(rows) == self.exp["violations"]

    def _reset(self):
        for d in ("manifest", "out"):
            shutil.rmtree(self.path(d), ignore_errors=True)
        shutil.copytree(self.path("seed_manifest"), self.path("manifest"))

    def _resume(self):
        from jsonschema_rs_spark.checkpoint import run_resumable_validation
        from jsonschema_rs_spark.compiler import compile_spec

        compiled = compile_spec(_spec(), self.hot.schema)
        return run_resumable_validation(
            self.hot, compiled, "part_key", self.path("manifest"),
            self.path("out"), sketch_cols=("doc_id",))

    def _check_resume(self, entries):
        got = {k: (e.docs, e.valid_docs, e.violation_rows)
               for k, e in entries.items()}
        on_disk = [n for n in os.listdir(self.path("manifest"))
                   if n.endswith(".json")]
        rows = []
        for k in self.todo:
            rows += _read_rows(self.path("out", f"part={k}"),
                               ("doc_id", "constraint_id", "span_index",
                                "observed"))
        return (got == self.exp["resume_rollup"]
                and len(on_disk) == self.n_keys
                and gen.multiset_hash(rows) == self.exp["resume_rows"])

    def jobs(self):
        out = self.path("out-violations")
        return [
            Job("violations", lambda: self._violations(self.df, out),
                self._check_violations),
            Job("resume", self._resume, self._check_resume,
                reset=self._reset),
        ]

    def bytes_written(self):
        return sum(os.path.getsize(os.path.join(d, f))
                   for sub in ("manifest", "out")
                   for d, _, files in os.walk(self.path(sub))
                   for f in files)


# --------------------------------------------------------------------------
# json-variant
# --------------------------------------------------------------------------

class JsonVariant(Workload):
    """Raw JSON documents with malformed and NULL rows; the batch job is
    the ``x-dataset`` gate over a flat span table and a media catalog."""

    name = "json-variant"
    n_docs = 80
    flat_docs = 3_000

    def write_inputs(self):
        rng = np.random.default_rng(self.seed)
        c = gen.corpus(rng, self.n_docs)
        table, exp = gen.json_docs(c, rng)
        gen.write_files(table, self.path("json"), self.n_files)
        clean = gen.corpus(rng, self.flat_docs, bad_doc_rate=0.0)
        flat, catalog, counts = gen.dataset_tables(clean, rng)
        gen.write_files(flat, self.path("flat"), self.n_files)
        gen.write_files(catalog, self.path("catalog"), 1)
        self.docs = c.n_docs
        self.exp = {"violations": gen.multiset_hash(exp["violations"]),
                    "dataset": Counter({k: v for k, v in counts.items()
                                        if v})}

    def open(self, spark):
        self.df = spark.read.schema(JSON_DDL).parquet(self.path("json"))
        self.flat = spark.read.schema(FLAT_DDL).parquet(self.path("flat"))
        self.catalog = spark.read.schema("media_ref string").parquet(
            self.path("catalog"))

    def _violations(self, df, out):
        from jsonschema_rs_spark.json_ingest import validate_json_strings

        (validate_json_strings(df, "doc", _spec())
         .write.mode("overwrite").parquet(out))
        return out

    def _check_violations(self, out):
        rows = _read_rows(out, ("doc_id", "constraint_id", "observed"))
        return gen.multiset_hash(rows) == self.exp["violations"]

    def _dataset(self):
        """Every x-dataset violation row: a dataset gate reports all of
        them, so there is no ``limit``."""
        from jsonschema_rs_spark.operators.dataset_spec import validate_dataset

        return validate_dataset(self.flat, gen.DATASET_SPEC, "part_key",
                                {"media_catalog": self.catalog}).collect()

    def _check_dataset(self, rows):
        return Counter(r["constraint_id"] for r in rows) == self.exp["dataset"]

    def jobs(self):
        out = self.path("out-violations")
        return [
            Job("violations", lambda: self._violations(self.df, out),
                self._check_violations),
            Job("dataset", self._dataset, self._check_dataset),
        ]


WORKLOADS = {w.name: w for w in (TypedFlagship, JsonVariant)}
