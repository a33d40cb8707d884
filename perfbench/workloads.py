"""The two workloads: ``roundtrip`` and ``query_mix``.

Each workload is a closed loop: one client issues one operation, waits
for it, then issues the next.  A workload has

* ``prepare()``: make the seeded inputs;
* ``warm()``: an untimed warm-up that starts the Python workers and
  compiles the code paths the passes use;
* ``run_pass(i)``: one pass of the workload's fixed operation sequence.
  Every operation runs inside ``self.op(kind)``, a span whose job
  description tags the Spark jobs it launches.  Outputs are kept and
  checked by ``check_pass`` after the pass, outside the timed region;
* ``final_check()``: the end-of-run checks, if any.

Every failed or wrong operation is counted in ``self.failed``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from deltoid_spark import jobs
from deltoid_spark.fixtures import codegen
from deltoid_spark.jobs import assign_partitions
from deltoid_spark.queries import queries

import tables
from oracle import value_hash
from spans import output_rows_by_node

ROW_COLS = ["repo", "path", "commit", "lang", "content"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    """Order-insensitive canonical form of a frame's rows."""
    return sorted(
        tuple(None if pd.isna(v) else v for v in r)
        for r in df[cols].itertuples(index=False, name=None)
    )


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer, traced: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.traced = traced  # Spark's event log is on
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_samples: dict[str, list[float]] = {}
        self.pending: list = []  # (kind, check callable) of the open pass

    @contextmanager
    def op(self, kind: str, **attrs):
        """Span one operation and tag its Spark jobs with ``kind``."""
        self.attempted += 1
        sc = self.spark.sparkContext
        with self.tracer.span(kind, **attrs) as sp:
            sc.setJobDescription(f"perfbench:{sp['id']}")
            try:
                yield sp
            finally:
                sc.setJobDescription(None)
        self.op_samples.setdefault(kind, []).append(sp["end"] - sp["start"])

    def planned(self, sp: dict, df):
        """In traced runs, force planning of a DataFrame built inside op
        span ``sp``, so its time splits into build / plan / execute."""
        if self.traced:
            sp["build_end"] = time.time()
            df._jdf.queryExecution().executedPlan()
            sp["plan_end"] = time.time()
        return df

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    def expect(self, kind: str, check) -> None:
        """Queue ``check`` (returns True when the output is right)."""
        self.pending.append((kind, check))

    def check_pass(self) -> None:
        pending, self.pending = self.pending, []
        for kind, check in pending:
            try:
                ok = check()
            except Exception as exc:  # noqa: BLE001 — a crash is a wrong output
                ok = False
                kind = f"{kind}: {type(exc).__name__}: {exc}"
            if not ok:
                self.fail(f"wrong output: {kind}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def after_pass(self) -> None:
        """Housekeeping between passes, outside the timed region."""

    def final_check(self) -> None:
        """Checks after the last pass."""

    def metrics(self) -> dict:
        """Workload-specific numbers for the sidecar."""
        return {}

    def live_layers(self) -> dict:
        """Workload-specific layer numbers measured after a traced run's
        passes, while the session is still up."""
        return {}

    def layers(self, events: list[dict], stage: dict) -> dict:
        """Workload-specific layer numbers from a traced run's event log."""
        return {}


# ------------------------------------------------------------------ roundtrip


class RoundTrip(Workload):
    """One table's life per pass: encode a seeded code table in grouped
    mode, decode all of it, append a batch of new commits, look up
    commits by IN-list, read a range of repos, project three columns,
    and compact.  Every pass starts from a fresh encode, so every pass
    does the same work."""

    name = "roundtrip"
    # the base (~77k rows, ~155 MB raw) fills 4 encode partitions of
    # DEFAULT_TARGET_ROWS, one per task slot
    ROWS = 90_000
    BASE_SHARE = 0.8  # the first 80% of every file's commits form the base
    BATCH_FILES = 4  # the tails of one file in four form the append batch
    LOOKUP_KEYS = 8

    def prepare(self) -> None:
        with self.tracer.span("codegen.generate"):
            df = codegen.generate(self.ROWS, seed=self.seed)
            version = df.groupby(["repo", "path"]).cumcount()
            size = df.groupby(["repo", "path"])["commit"].transform("size")
            in_base = version < np.maximum(1, np.ceil(size * self.BASE_SHARE))
            digest = df["path"].map(lambda p: hashlib.md5(p.encode()).digest()[0])
            in_batch = ~in_base & (digest % self.BATCH_FILES == 0)
            self.base = df[in_base].reset_index(drop=True)
            self.batch = df[in_batch].reset_index(drop=True)
            self.state = pd.concat([self.base, self.batch], ignore_index=True)
            self.base_src = codegen.write_parquet(self.base, self.fresh("base.parquet"))
            self.batch_src = codegen.write_parquet(
                self.batch, self.fresh("batch.parquet"), n_shards=4
            )
        self.raw_mb = None
        self.ratios: dict[str, list[float]] = {"encode": [], "compact": []}
        self.out = None

    def warm(self) -> None:
        """Run every operation of a pass on two tiny tables, each split
        into several partitions, in two threads: all four Python workers
        start and every plan is compiled once.  The threads share the
        cold start's class loading and compilation."""
        spark = self.spark
        tiny = codegen.generate(2_000, seed=self.seed)
        keys = tiny["commit"].head(4).tolist()

        def life(k: int, ops: tuple[str, ...]) -> None:
            src = codegen.write_parquet(tiny, self.fresh(f"warm{k}", "in.parquet"), n_shards=4)
            out = self.fresh(f"warm{k}", "enc")
            jobs.encode(spark, src, out, target_rows=400)
            for op in ops:
                if op == "decode":
                    _noop(jobs.decode(spark, out))
                elif op == "lookup":
                    jobs.decode(spark, out, where=("commit", keys)).toPandas()
                elif op == "append":
                    jobs.encode_append(spark, src, out)
                elif op == "compact":
                    jobs.compact(spark, out)
            shutil.rmtree(self.path(f"warm{k}"), ignore_errors=True)

        with ThreadPoolExecutor(2) as pool:
            futures = [
                pool.submit(life, 0, ("decode", "lookup")),
                pool.submit(life, 1, ("append", "compact")),
            ]
            for f in futures:
                f.result()

    def after_pass(self) -> None:
        for name in os.listdir(self.path()):
            if name.startswith("enc") and self.path(name) != self.out:
                shutil.rmtree(self.path(name), ignore_errors=True)

    def _manifest_check(self, kind: str, manifest) -> None:
        def check() -> bool:
            summary = jobs.metrics_summary(manifest)
            if kind == "encode":
                self.raw_mb = summary["raw_bytes"] / 1e6
            seen = self.ratios[kind]
            seen.append(summary["ratio"])
            return summary["failed_partitions"] == 0 and len(set(seen)) == 1

        self.expect(f"{kind}: no failed partition, stored ratio identical across passes", check)

    def _read(self, kind: str, where, mask_fn, cols=ROW_COLS) -> None:
        with self.op(kind) as sp:
            df = jobs.decode(
                self.spark, self.out, where=where, columns=None if cols == ROW_COLS else cols
            )
            got = self.planned(sp, df).toPandas()
        sp["rows_returned"] = len(got)
        state = self.state

        def check() -> bool:
            want = state[mask_fn(state)] if mask_fn is not None else state
            return _rows(got, cols) == _rows(want, cols)

        self.expect(kind, check)

    def run_pass(self, i: int) -> None:
        spark = self.spark
        rng = np.random.default_rng([self.seed, i])
        self.out = self.fresh(f"enc{i}")
        with self.op("encode"):
            manifest = jobs.encode(spark, self.base_src, self.out)
        self._manifest_check("encode", manifest)
        with self.op("decode") as sp:
            _noop(self.planned(sp, jobs.decode(spark, self.out)))
        with self.op("append", rows=len(self.batch)):
            jobs.encode_append(spark, self.batch_src, self.out)

        keys = self.state["commit"].iloc[
            rng.choice(len(self.state), self.LOOKUP_KEYS, replace=False)
        ].tolist()
        self._read("lookup", ("commit", keys), lambda s: s["commit"].isin(keys))
        repos = sorted(self.state["repo"].unique())
        j = int(rng.integers(0, len(repos) - 2))
        lo, hi = repos[j], repos[j + 2]
        self._read(
            "range_read", ("repo", lo, hi), lambda s: (s["repo"] >= lo) & (s["repo"] <= hi)
        )
        self._read("projection", None, None, cols=["repo", "path", "commit"])
        with self.op("compact"):
            manifest = jobs.compact(spark, self.out)
        self._manifest_check("compact", manifest)

    def final_check(self) -> None:
        """The table after append and compact decodes to base + batch."""
        spark = self.spark
        self.attempted += 1
        want = spark.read.parquet(self.base_src, self.batch_src)
        res = jobs.verify(spark, want, jobs.decode(spark, self.out))
        if not res["ok"]:
            self.fail(f"verify after compact: {res}")

    def metrics(self) -> dict:
        med = lambda k: float(np.median(self.op_samples[k]))  # noqa: E731
        return {
            "encode_mb_s": {"value": self.raw_mb / med("encode"), "unit": "MB/s"},
            "decode_mb_s": {"value": self.raw_mb / med("decode"), "unit": "MB/s"},
            "stored_ratio": {"value": self.ratios["encode"][0], "unit": "ratio"},
            "stored_ratio_after_compact": {"value": self.ratios["compact"][0], "unit": "ratio"},
            "append_p50_s": {"value": med("append"), "unit": "s"},
            "lookup_p50_s": {"value": med("lookup"), "unit": "s"},
            "range_read_p50_s": {"value": med("range_read"), "unit": "s"},
            "projection_p50_s": {"value": med("projection"), "unit": "s"},
            "compact_s": {"value": med("compact"), "unit": "s"},
            "raw_mb": {"value": self.raw_mb, "unit": "MB"},
        }

    def live_layers(self) -> dict:
        with self.tracer.span("partitioning.assign") as sp:
            assign_partitions(self.spark.read.parquet(self.base_src).select(*ROW_COLS))
        manifest = pq.read_table(os.path.join(self.out, "manifest"))
        return {
            "partitioning.assign_s": sp["end"] - sp["start"],
            "manifest.rows": float(manifest.num_rows),
        }

    def layers(self, events: list[dict], stage: dict) -> dict:
        out = {}
        for kind in ("lookup", "range_read"):
            ratios = []
            for sp in self.tracer.spans:
                rec = stage.get(f"perfbench:{sp['id']}")
                if sp["name"] == kind and rec is not None:
                    decoded = output_rows_by_node(events, rec["sql_ids"], "FlatMapGroupsInArrow")
                    ratios.append(decoded / max(1, sp["rows_returned"]))
            out[f"{kind}.rows_decoded_per_row_returned"] = (
                float(np.median(ratios)) if ratios else 0.0
            )
        comp = [
            stage[f"perfbench:{sp['id']}"]["output_mb"]
            for sp in self.tracer.spans
            if sp["name"] == "compact" and f"perfbench:{sp['id']}" in stage
        ]
        out["compact.bytes_rewritten_mb"] = float(np.median(comp)) if comp else 0.0
        return out


# ------------------------------------------------------------------ query_mix


HEADLINE = [
    "q01_pricing_summary", "q03_run_lengths", "q04_event_rank", "q05_changed_flag",
    "q06_keyed_diff", "q08_for_bitwidth", "q10_dedup_exact", "q11_minhash_shingle",
    "q12_token_stats", "q13_lang_id", "q15_ann_cosine_topk",
    "q18_lsh_candidate_pairs", "q19_simhash_buckets",
]
MIX = HEADLINE + ["q26_jaccard_verify", "q39_dup_text_mass", "q41_embedding_clusters"]


class QueryMix(Workload):
    """The 13 headline queries plus q26, q39 and q41, in a seeded order."""

    name = "query_mix"
    SF = 0.02

    def prepare(self) -> None:
        with self.tracer.span("codegen.generate"):
            self.sf_dir = self.fresh("tables")
            tables.write_tables(self.sf_dir, self.SF, self.seed)
        self.catalog = queries()
        # the oracle runs in a process of its own, beside the warm-up, so
        # DuckDB's memory and threads are gone before the first pass
        self._oracle = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"),
             self.sf_dir, *MIX],
            stdout=subprocess.PIPE, text=True,
        )

    def warm(self) -> None:
        """Run the whole mix twice, four queries at a time.  The first run
        of a query in a session compiles its plans and starts the Python
        workers its functions need, which doubles a cold pass; a pass
        after only one round was still 50% slower than later ones, while
        the second round costs a few seconds.  Then wait for the oracle."""
        def run(name: str) -> None:
            self.catalog[name](self.spark, self.sf_dir).collect()

        with ThreadPoolExecutor(4) as pool:
            for _ in range(2):
                for f in [pool.submit(run, name) for name in MIX]:
                    f.result()
        out, _ = self._oracle.communicate()
        if self._oracle.returncode != 0:
            raise RuntimeError(f"oracle.py exited with {self._oracle.returncode}")
        self.hashes: dict[str, str] = json.loads(out)

    def run_pass(self, i: int) -> None:
        order = np.random.default_rng([self.seed, i]).permutation(len(MIX))
        for k in order:
            name = MIX[k]
            with self.op(name) as sp:
                df = self.planned(sp, self.catalog[name](self.spark, self.sf_dir))
                rows = [tuple(r) for r in df.collect()]
            cols = [c.lower() for c in df.columns]
            self.expect(name, lambda n=name, r=rows, c=cols: self._matches(n, r, c))

    def _matches(self, name: str, rows, cols) -> bool:
        return value_hash(rows, cols) == self.hashes[name]


WORKLOADS = {w.name: w for w in (RoundTrip, QueryMix)}
