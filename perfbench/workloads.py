"""The benchmark's workloads.

Each workload generates its inputs from the seed (cached by their full
parameters, outside any timing), opens a Spark session the way its users
would, runs one *unit* of work per call (one pass over its input) and
checks that unit's outputs outside the timed window:

* `job_codec_mix`: `jobs/extract_job.py` as shipped, with its default
  options (checkpointed write of 64 buckets with lineage markers, then the
  quarantine side sink; no salt, so the single input file is extracted in
  one task), over 24 documents without skew holding 8 media each of PNG,
  baseline, progressive and color JPEG and TIFF, plus 5 invalid,
  truncated and unsupported payloads (`perfbench/corpus.py`).  Codec
  decoding is the largest part of the UDF time, about a fifth of the unit
  wall on a 4-vCPU VM; Spark jobs and the bucket commits take most of the
  rest.  It is the only workload that writes.
* `registry_sf0.1`: a pass over one query of each operator family of the
  registry on seeded sf0.1-shaped tables, each result collected to the
  driver and compared with its DuckDB oracle.  JVM SQL and shuffle work
  and the `operators.*` modules dominate; codec work is absent.  (The
  media operators run in the job's admission and quarantine instead.)

An operation is one document (job) or one query (registry); a mismatch
with the golden output or oracle, or an exception, fails it.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import math
import os
import shutil
import statistics
import sys
import time

from perfbench.replay import replay

GOLDEN_COLS = ["doc_id", "offset", "media_ref", "mime", "n_bytes", "reason"]


def _session(work: str, cores: int, **kw):
    from ms_ocr_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp; JVM scratch files in the checkout
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        **kw.pop("extra", {}),
    }
    return get_spark(cores=cores, extra=extra, **kw)


def _spans_by_doc(path: str) -> dict:
    """doc_id -> list of span dicts, from a parquet file or a directory of
    them (hive-partitioned; files named `_*` are skipped)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "spans"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()))


class Workload:
    name = ""
    ops_unit = "ops"
    # untimed units before the timed ones
    warm_units = 1

    def __init__(self, root: str, seed: int, cores: int) -> None:
        self.root, self.seed, self.cores = root, seed, cores
        self.work = os.path.join(root, "perfbench", ".work")
        self.inputs = os.path.join(self.work, "inputs")

    # -- hooks ------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the inputs (untimed, cached)."""

    def start(self):
        """New SparkSession configured as this workload's users run it."""
        raise NotImplementedError

    def open(self, spark) -> None:
        """Bind the inputs to a (new) session."""

    def warm_up(self, spark) -> None:
        """Part of set-up: fork the Python worker pool on every core."""
        spark.range(self.cores * 2, numPartitions=self.cores).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()

    def unit(self, spark):
        """One timed pass; returns what `check` needs."""
        raise NotImplementedError

    def check(self, spark, outcome) -> int:
        """Failed operations of one unit (untimed)."""
        raise NotImplementedError

    def ops(self) -> int:
        raise NotImplementedError

    def traced_unit(self, spark, spans, drain) -> tuple[object, dict[str, float]]:
        """One unit inside a span named "unit", with spans around the layer
        calls; returns the unit's outcome and per-layer values, which
        include the plan metrics `drain()` returns for the unit's actions
        (reference work done after the unit is left undrained)."""
        raise NotImplementedError

    def replay(self) -> dict[str, float]:
        return {}


class JobCodecMix(Workload):
    name = "job_codec_mix"
    ops_unit = "docs"
    # pool drawn by datagen; selection is sequential there (jpeg, then
    # progressive among the rest, then tiff, then color), so these give
    # ~20% of media each, and 3-5% each of the quarantine classes, so that
    # an 80-document pool (~200 media) almost always fills the quotas
    pool_docs = (80, 160, 320)
    corpus_kw = {
        "jpeg_pct": 0.2,
        "prog_jpeg_pct": 0.25,
        "tiff_pct": 0.333,
        "color_jpeg_pct": 0.5,
        "invalid_pct": 0.05,
        "truncated_jpeg_pct": 0.03,
        "unsupported_jpeg_pct": 0.03,
        "unsupported_tiff_pct": 0.03,
    }
    # media per class in every seed's corpus, and its document count
    quota = {
        "png": 8,
        "jpeg": 8,
        "jpeg_progressive": 8,
        "jpeg_color": 8,
        "tiff": 8,
        "invalid": 2,
        "truncated_jpeg": 1,
        "unsupported_jpeg_layout": 1,
        "unsupported_tiff_layout": 1,
    }
    n_docs = 24
    buckets = 64  # jobs/extract_job.py default

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from ms_ocr_spark.sources.datagen import write_corpus
        from perfbench.corpus import write_fixed_mix

        base = os.path.join(self.inputs, f"{self.name}_s{self.seed}")
        # a pool too small to fill every quota is drawn again, larger
        for pool_docs in self.pool_docs:
            pool = write_corpus(
                os.path.join(base, f"pool{pool_docs}"),
                n_docs=pool_docs,
                seed=self.seed,
                processes=self.cores,
                **self.corpus_kw,
            )
            try:
                self.paths = write_fixed_mix(base, pool, self.quota, self.n_docs)
                break
            except ValueError as e:
                err = e
        else:
            raise err
        self.golden = _spans_by_doc(self.paths["golden_spans"])
        self.n_out = len(self.golden)
        spec = importlib.util.spec_from_file_location(
            "extract_job", os.path.join(self.root, "jobs", "extract_job.py")
        )
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        self.golden_quarantine = sorted(
            tuple(r.values())
            for r in pq.read_table(self.paths["golden_quarantine"], columns=GOLDEN_COLS).to_pylist()
        )
        self.out_root = os.path.join(self.work, "job_out")
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.n_runs = 0

    def start(self):
        return _session(self.work, self.cores, app="extract:perfbench")

    def _run_job(self) -> str:
        # every run gets a fresh output directory: resume would otherwise
        # skip the committed buckets and turn the run into a no-op
        out = os.path.join(self.out_root, f"run{self.n_runs:04d}")
        self.n_runs += 1
        argv = [
            "--documents", self.paths["documents"],
            "--media", self.paths["media_store"],
            "--output", out,
            "--job-id", "perfbench",
            "--buckets", str(self.buckets),
        ]
        with contextlib.redirect_stdout(io.StringIO()) as job_stdout:
            rc = self.job.main(argv)
        report = json.loads(job_stdout.getvalue().strip().splitlines()[-1])
        if rc != 0 or len(report["buckets_committed_this_run"]) != self.buckets:
            raise RuntimeError(f"job did not commit every bucket: rc={rc}")
        return out

    def open(self, spark) -> None:
        self.docs = spark.read.parquet(self.paths["documents"])
        self.media = spark.read.parquet(self.paths["media_store"])

    def ops(self) -> int:
        return self.n_out

    def replay(self) -> dict[str, float]:
        return replay(self.paths)

    def unit(self, spark):
        return self._run_job()

    def check(self, spark, out) -> int:
        import pyarrow.parquet as pq

        spans = _spans_by_doc(os.path.join(out, "data"))
        # documents whose spans differ from golden, are missing or extra
        bad = {d for d in spans.keys() | self.golden.keys() if spans.get(d) != self.golden.get(d)}
        quarantined = sorted(
            tuple(r.values())
            for r in pq.read_table(os.path.join(out, "_quarantine"), columns=GOLDEN_COLS).to_pylist()
        )
        # and documents with a quarantine row missing, extra or different
        bad |= {r[0] for r in set(quarantined).symmetric_difference(self.golden_quarantine)}
        shutil.rmtree(out, ignore_errors=True)
        return len(bad)

    def traced_unit(self, spark, spans, drain):
        """The job with spans around `run_with_checkpoints`, the write of
        `quarantine_invalid_media` and `extraction_metrics`, then (outside
        the unit and its plan metrics) a reference noop extraction over the
        same input for the commit overhead."""
        import pyarrow.parquet as pq

        from ms_ocr_spark.extraction import pipeline
        from ms_ocr_spark.plans import checkpoint

        orig_run, orig_quar = checkpoint.run_with_checkpoints, pipeline.quarantine_invalid_media
        orig_metrics = checkpoint.extraction_metrics
        committed: list[int] = []

        def run_with_checkpoints(*a, **kw):
            with spans.span("checkpoint.run"):
                buckets = orig_run(*a, **kw)
            committed.extend(buckets)
            return buckets

        class _TimedWrite:
            """The quarantine DataFrame's writer, timed when it saves."""

            def __init__(self, df):
                self.df, self.write = df, self

            def mode(self, m):
                self._mode = m
                return self

            def parquet(self, path):
                with spans.span("pipeline.quarantine"):
                    self.df.write.mode(self._mode).parquet(path)

        class _TimedMetrics:
            """`extraction_metrics`' DataFrame, timed when it is collected."""

            def __init__(self, df):
                self.df = df

            def collect(self):
                with spans.span("checkpoint.metrics"):
                    return self.df.collect()

        checkpoint.run_with_checkpoints = run_with_checkpoints
        checkpoint.extraction_metrics = lambda s, o: _TimedMetrics(orig_metrics(s, o))
        pipeline.quarantine_invalid_media = lambda d, m: _TimedWrite(orig_quar(d, m))
        try:
            with spans.span("unit"):
                out = self.unit(spark)
        finally:
            checkpoint.run_with_checkpoints = orig_run
            checkpoint.extraction_metrics = orig_metrics
            pipeline.quarantine_invalid_media = orig_quar
        plan = drain()
        # pyarrow: Spark's file index skips a root path whose name starts with "_"
        quarantine_rows = pq.read_table(os.path.join(out, "_quarantine")).num_rows
        t0 = time.perf_counter()
        pipeline.extract_documents(self.docs, self.media).write.format("noop").mode(
            "overwrite"
        ).save()
        noop_s = time.perf_counter() - t0
        return out, {
            **plan,
            "checkpoint.run_s": spans.last("checkpoint.run"),
            "pipeline.quarantine_s": spans.last("pipeline.quarantine"),
            "checkpoint.buckets": float(len(committed)),
            "checkpoint.commit_overhead_s": spans.last("checkpoint.run") - noop_s,
            "pipeline.quarantine_rows": float(quarantine_rows),
        }


# one query per operator family of the registry; the family names the
# rollup metric `operators.<family>_s` each query's wall counts toward
REGISTRY_QUERIES = {
    "q1_pricing_summary": "sql",
    "sessionize_events": "windows",
    "minhash_signatures_docs": "dedup",
    "ann_brute_force_topk": "similarity",
    "quality_score_docs": "textstats",
    "containment_anti_boxes": "boxes",
}
FAMILIES = sorted(set(REGISTRY_QUERIES.values()))


def _canon(df):
    """Order-insensitive canonical frame (tests/test_oracle_parity.py)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


class RegistrySf01(Workload):
    name = "registry_sf0.1"
    ops_unit = "queries"
    # its second pass still runs 15-30% slower than the ones after it, the
    # JVM compiling ~10 s of CPU in it against 2-4 s later; the job's JIT
    # work does not level off like that (64 buckets of plans in a unit)
    warm_units = 2

    def prepare(self) -> None:
        import duckdb

        from perfbench.sfgen import TABLES, write_tables

        self.sf_dir = write_tables(os.path.join(self.inputs, f"sf0.1_s{self.seed}"), self.seed)
        # pins the scale of the sf-dependent golden oracles to these tables
        os.environ["SPARK_GRAFT_ORACLE_SF"] = self.sf_dir
        from ms_ocr_spark import queries as Q

        self.queries = Q.queries()
        # oracle_sql() would build every lazy fixture oracle of the registry;
        # only the ones of the queries run here are built (and the fixture
        # corpora they share with their queries, outside the timed window)
        lazy = Q._LAZY_ORACLES
        sql = {name: s for name, _, s in Q._REGISTRY if s is not None}
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.expected = {
            name: _canon(con.execute(lazy[name]() if name in lazy else sql[name]).fetchdf())
            for name in REGISTRY_QUERIES
        }
        con.close()

    def start(self):
        return _session(self.work, self.cores, app="perfbench_registry")

    def warm_up(self, spark) -> None:
        # as bench.py warms up: one SQL query, then the Python worker pool
        self.queries["q1_pricing_summary"](spark, self.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        super().warm_up(spark)

    def ops(self) -> int:
        return len(REGISTRY_QUERIES)

    def _pass(self, spark, spans):
        from ms_ocr_spark.plans.cache import release_all

        results = {}
        for name in REGISTRY_QUERIES:
            with spans.span(f"query.{name}"):
                try:
                    results[name] = self.queries[name](spark, self.sf_dir).toPandas()
                except Exception as e:  # a failing query is a failed operation
                    print(f"query {name} failed: {e!r}", file=sys.stderr)
                    results[name] = e
        # queries share persisted relations within a pass; every pass
        # starts from the same cold operator caches, as bench.py's loop ends
        release_all()
        return results

    def unit(self, spark):
        from perfbench.tracing import Spans

        spans = Spans()
        results = self._pass(spark, spans)
        return results, {n: spans.last(f"query.{n}") for n in REGISTRY_QUERIES}

    def check(self, spark, outcome) -> int:
        import pandas as pd

        results, _ = outcome
        failed = 0
        for name, got in results.items():
            want = self.expected[name]
            if isinstance(got, Exception) or len(got) != len(want):
                failed += 1
                continue
            if sorted(got.columns) != sorted(want.columns):
                failed += 1
                continue
            try:
                pd.testing.assert_frame_equal(
                    _canon(got), want, check_dtype=False, check_exact=True
                )
            except AssertionError:
                failed += 1
        return failed

    def traced_unit(self, spark, spans, drain):
        with spans.span("unit"):
            results = self._pass(spark, spans)
        walls = {n: spans.last(f"query.{n}") for n in REGISTRY_QUERIES}
        extra = {**drain(), **{f"query.{n}_s": w for n, w in walls.items()}}
        for fam in FAMILIES:
            extra[f"operators.{fam}_s"] = sum(
                w for n, w in walls.items() if REGISTRY_QUERIES[n] == fam
            )
        return (results, walls), extra


def query_geomean_s(walls_per_unit: list[dict[str, float]]) -> float:
    """Geometric mean over queries of each query's median wall."""
    names = walls_per_unit[0].keys()
    med = [statistics.median(w[n] for w in walls_per_unit) for n in names]
    return math.exp(sum(math.log(m) for m in med) / len(med))


WORKLOADS = {w.name: w for w in (JobCodecMix, RegistrySf01)}
