"""The three benchmark workloads.

Each workload is driven by one closed-loop client: a pass starts only after
the previous one has completed. A workload object

* ``inputs(seed, work)`` writes its seeded inputs (untimed, before the JVM);
* ``open(spark)`` opens them (part of the timed set-up);
* ``run_pass()`` runs one pass and returns its outputs — the harness times
  it;
* ``check(out)`` returns ``(attempted, failed, notes)`` for one pass's
  outputs: every operation of the pass counts once, and fails if it raised
  or its output disagrees with the oracle;

The harness sets ``tracer`` (a :class:`tracing.Tracer`, recording only in
the traced run) before ``open``; the workloads open spans around their own
calls into sparkcheck with it.

Sizes are fixed here, not by the seed: the seed only changes which rows are
generated.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import shutil
import time
from typing import Any

import duckdb

import gen

#: frozen query set of the query_suite workload, version 1 — names from
#: ``__spark_entry__.queries()`` (a subset of bench.py's HEADLINE list:
#: one or two per operator family, sized so a pass fits the run budget)
QUERY_SET_VERSION = 1
QUERIES = (
    "prefix_dups",                # dedup: prefix grouping
    "chunked_documents",          # text: interleaved chunking
    "embedding_decontamination",  # similarity: mapInArrow gemm (Python)
)


def _suite(name: str, specs: list[tuple[str, dict]]):
    from sparkcheck import ExpectationConfiguration, ExpectationSuite

    return ExpectationSuite(name=name, expectations=[
        ExpectationConfiguration.from_dict({"expectation_type": t, "kwargs": kw})
        for t, kw in specs
    ])


def _parquet_bytes(path: str) -> int:
    """Bytes of the parquet file ``path``, or of the files under it."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def _drop_one_row(table_dir: str) -> None:
    """Self-test corruption: delete the first row of the first non-empty
    parquet file under ``table_dir``."""
    import pyarrow.parquet as pq

    for dirpath, _, files in sorted(os.walk(table_dir)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                path = os.path.join(dirpath, f)
                t = pq.read_table(path)
                if t.num_rows:
                    pq.write_table(t.slice(1), path)
                    return


def _evr_key(report: dict) -> list[tuple]:
    """The comparable core of a validation report: per expectation its
    type, success and result payload (ordering as the suite lists them)."""
    out = []
    for r in report["results"]:
        cfg = r["expectation_config"]
        out.append((cfg["expectation_type"], repr(sorted(cfg["kwargs"].items())),
                    bool(r["success"]), repr(r.get("result")),
                    repr(r.get("exception_info", {}).get("raised_exception"))))
    return out


# ---------------------------------------------------------------------------
# corpus_validate
# ---------------------------------------------------------------------------

DOC_ID_RE = "^(hot[0-2]|p[0-9]{2})-[0-9]{12}$"
PRINTABLE = "^[\\x20-\\x7E]*$"


def doc_suite_specs() -> list[tuple[str, dict]]:
    """The doc-level suite of bench.py's synthetic-corpus leg."""
    return [
        ("expect_column_values_to_not_be_null", {"column": "doc_id", "mostly": 0.99}),
        ("expect_column_values_to_be_unique", {"column": "doc_id", "mostly": 0.98}),
        ("expect_column_values_to_match_regex",
         {"column": "doc_id", "regex": DOC_ID_RE, "mostly": 0.98}),
        ("expect_table_row_count_to_be_between", {"min_value": 1, "max_value": 10**15}),
    ]


def span_oracle_sql(src: str) -> str:
    """DuckDB replay of ``spans.span_violations``: violation rows per
    expectation over the stored corpus."""
    text_bad = ("x.kind = 'text' AND x.text IS NOT NULL "
                f"AND NOT regexp_matches(x.text, '{PRINTABLE}')")
    kind_bad = ("x.kind NOT IN ('text', 'image', 'audio', 'video') "
                "OR (x.kind = 'text' AND (x.text IS NULL OR x.media_ref IS NOT NULL)) "
                "OR (x.kind <> 'text' AND (x.media_ref IS NULL OR x.text IS NOT NULL))")
    off_bad = 'spans[i]."offset" <= spans[i - 1]."offset"'
    return f"""
    SELECT unnest(['expect_span_text_printable', 'expect_span_kind_payload_consistent',
                   'expect_span_offsets_increasing']),
           unnest([sum(len(list_filter(spans, x -> {text_bad}))),
                   sum(len(list_filter(spans, x -> {kind_bad}))),
                   sum(len(list_filter(range(2, len(spans) + 1), i -> {off_bad})))])
    FROM {src}
    """


def _duckdb():
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    con.sql("SET threads = 4")
    return con


def doc_oracle(con, src: str) -> dict[str, tuple[int, int]]:
    """(element_count, unexpected_count) per doc-level map expectation."""
    n, nulls, bad = con.sql(
        f"SELECT count(*), count(*) FILTER (doc_id IS NULL), count(*) FILTER ("
        f"doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '{DOC_ID_RE}')) FROM {src}"
    ).fetchone()
    dups = con.sql(
        f"SELECT coalesce(sum(c), 0) FROM (SELECT count(*) c FROM {src} "
        f"WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1)"
    ).fetchone()[0]
    return {
        "expect_column_values_to_not_be_null": (n, nulls),
        "expect_column_values_to_be_unique": (n, int(dups)),
        "expect_column_values_to_match_regex": (n, bad),
        "expect_table_row_count_to_be_between": (n, 0),
    }


class CorpusValidate:
    name = "corpus_validate"
    n_docs = 100_000
    n_ops = 2  # the suite validation and the violation sink
    warmup = 3  # pass time falls for ~3 passes after the cold one
    min_steady = 3
    result_format = "BASIC"

    def shrink(self) -> None:
        self.n_docs = 5_000

    def inputs(self, seed: int, work: str) -> None:
        self.corpus = os.path.join(work, "corpus")
        self.sink = os.path.join(work, "sink")
        gen.corpus(seed, self.n_docs, self.corpus)
        con = _duckdb()
        src = f"read_parquet('{self.corpus}/*.parquet')"
        self.span_expected = dict(con.sql(span_oracle_sql(src)).fetchall())
        self.doc_expected = doc_oracle(con, src)
        con.close()

    def open(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.corpus)
        self.suite = _suite("synth_corpus", doc_suite_specs())

    def run_pass(self) -> dict:
        """The classic pass: doc-level suite, then span violations written
        to the parquet sink."""
        from sparkcheck import validate_df
        from sparkcheck.spans import span_violations

        report = validate_df(self.docs, self.suite, result_format=self.result_format)
        with self.tracer.span("spans.violations"):
            span_violations(self.docs).write.mode("overwrite").parquet(self.sink)
        return {"report": report}

    def run_fused(self) -> dict:
        """The same pass through ``fused.validate_and_extract``."""
        from sparkcheck.fused import validate_and_extract
        from sparkcheck.spans import span_violations

        report, _, _ = validate_and_extract(
            self.docs, self.suite, span_violations,
            action=lambda r: r.write.mode("overwrite").parquet(self.sink),
            result_format=self.result_format)
        return {"report": report, "fused": True}

    def check(self, out: dict) -> tuple[int, int, list[str]]:
        notes = []
        con = _duckdb()
        got = dict(con.sql(
            f"SELECT expectation, count(*) FROM read_parquet('{self.sink}/*.parquet') "
            "GROUP BY 1").fetchall())
        con.close()
        for e, n in self.span_expected.items():
            if got.get(e, 0) != n:
                notes.append(f"span rows {e}: {got.get(e, 0)} != oracle {n}")
        out["counts"] = {"spans.violation_rows": sum(got.values())}
        for r in out["report"]["results"]:
            t = r["expectation_config"]["expectation_type"]
            n, bad = self.doc_expected[t]
            res = r.get("result", {})
            if t == "expect_table_row_count_to_be_between":
                ok = res.get("observed_value") == n and r["success"]
            else:
                mostly = r["expectation_config"]["kwargs"]["mostly"]
                nonnull = n if t.endswith("not_be_null") else n - self.doc_expected[
                    "expect_column_values_to_not_be_null"][1]
                ok = (res.get("element_count") == n and res.get("unexpected_count") == bad
                      and bool(r["success"]) == ((nonnull - bad) / nonnull >= mostly))
            if not ok:
                notes.append(f"{t}: {res} success={r['success']} vs oracle n={n} bad={bad}")
        if out.get("fused") and self.classic_key is not None:
            if _evr_key(out["report"]) != self.classic_key:
                notes.append("fused report differs from the classic report")
        elif not out.get("fused"):
            self.classic_key = _evr_key(out["report"])
        return self.n_ops, min(len(notes), self.n_ops), notes

    classic_key = None

    @property
    def corpus_path(self) -> str:
        return self.corpus

    def scan_frame(self):
        return self.docs.select("doc_id", "spans")

    def scan_bytes(self) -> int:
        return _parquet_bytes(self.corpus)

    def pass_counts(self, out: dict | None) -> dict[str, float]:
        return out.get("counts", {}) if out else {}

    def pass_extras(self, out: dict | None) -> dict[str, float]:
        return {}

    def corrupt(self, out: dict) -> None:
        _drop_one_row(self.sink)


# ---------------------------------------------------------------------------
# checkpoint_resume
# ---------------------------------------------------------------------------

PROFILE_COLUMNS = ["n_spans", "text_chars", "quality"]
HIST_BINS = {"quality": [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.8, 1.0]}


class CheckpointResume:
    name = "checkpoint_resume"
    n_buckets = 2
    docs_per_bucket = 5_000
    crash_after = 1
    n_ops = 2  # the crashed run and the resumed run
    warmup = 0  # steady from the first pass after the cold one
    min_steady = 1  # one ~9 s pass fits the run budget; pass-to-pass spread ~2%

    @property
    def n_docs(self) -> int:
        return self.n_buckets * self.docs_per_bucket

    def shrink(self) -> None:
        self.docs_per_bucket = 1_000

    def inputs(self, seed: int, work: str) -> None:
        self.work = work
        self.corpus = os.path.join(work, "bucketed")
        gen.corpus(seed, self.n_docs, self.corpus, n_buckets=self.n_buckets)
        con = _duckdb()
        src = f"read_parquet('{self.corpus}/*/*.parquet')"
        self.span_expected = dict(con.sql(span_oracle_sql(src)).fetchall())
        self.doc_expected = doc_oracle(con, src)
        self.profile_expected = {
            c: con.sql(f"SELECT count({c}), avg({c}), stddev_samp({c}), min({c}), "
                       f"max({c}) FROM {src}").fetchone()
            for c in PROFILE_COLUMNS
        }
        con.close()
        self.n_pass = 0

    def open(self, spark) -> None:
        from sparkcheck.runner import ParquetStore, PartitionedCorpusRunner
        from sparkcheck.spans import span_violations

        self.spark = spark
        # not-null and regex: per-row checks whose violation rows are
        # partition-independent (uniqueness within a bucket is not)
        specs = doc_suite_specs()
        self.suite = _suite("bucketed_corpus", [specs[0], specs[2]])
        self.make_runner = lambda store: PartitionedCorpusRunner(
            spark, store, self.corpus, violations_fn=span_violations,
            suite_violation_rows=True, profile_columns=PROFILE_COLUMNS,
            profile_bins=HIST_BINS, profile_mg=("n_spans", 8),
            profile_quantiles=("text_chars", 64))
        self.new_store = ParquetStore
        spark.read.parquet(self.corpus).schema  # noqa: B018 — opens the input

    def run_pass(self) -> dict:
        """Crash after ``crash_after`` partitions, restart with the same
        run_id and resume to completion."""
        self.n_pass += 1
        root = os.path.join(self.work, f"store{self.n_pass}")
        shutil.rmtree(root, ignore_errors=True)
        store = self.new_store(root)
        run_id = f"pass{self.n_pass}"
        crashed = False
        try:
            self.make_runner(store).run(None, self.suite, run_id=run_id,
                                        fail_after=self.crash_after)
        except RuntimeError as e:
            crashed = "injected failure" in str(e)
        t = time.perf_counter()
        runner = self.make_runner(store)
        report = runner.run(None, self.suite, run_id=run_id)
        resume_s = time.perf_counter() - t
        return {"root": root, "store": store, "runner": runner, "run_id": run_id,
                "crashed": crashed, "report": report, "resume_s": resume_s}

    def check(self, out: dict) -> tuple[int, int, list[str]]:
        notes = []
        rep, store, run_id = out["report"], out["store"], out["run_id"]
        if not out["crashed"]:
            notes.append("the injected crash did not happen")
        if len(rep.partitions_skipped) != self.crash_after or \
                len(rep.partitions_run) != self.n_buckets - self.crash_after:
            notes.append(f"skipped {rep.partitions_skipped} run {rep.partitions_run}")
        con = _duckdb()
        root = out["root"]
        manifests = [f for f in os.listdir(os.path.join(root, "_manifest"))
                     if f.endswith(".json")]
        parts = con.sql(
            f"SELECT partition_id, count(DISTINCT expectation), count(*) FROM "
            f"read_parquet('{root}/results/*.parquet') WHERE run_id = '{run_id}' "
            "GROUP BY 1").fetchall()
        n_exp = len(self.suite.expectations)
        if len(manifests) != self.n_buckets or len(parts) != self.n_buckets or any(
                k != n_exp or c != n_exp for _, k, c in parts):
            notes.append(f"commits: {len(manifests)} manifests, results {parts}")
        viol = dict(con.sql(
            f"SELECT expectation, count(*) FROM read_parquet('{root}/violations/*.parquet')"
            f" WHERE run_id = '{run_id}' GROUP BY 1").fetchall())
        con.close()
        want = dict(self.span_expected)
        for e in ("expect_column_values_to_not_be_null", "expect_column_values_to_match_regex"):
            want[e] = self.doc_expected[e][1]
        for e in set(want) | set(viol):
            if want.get(e, 0) != viol.get(e, 0):
                notes.append(f"violations {e}: {viol.get(e, 0)} != oracle {want.get(e, 0)}")
        prof = {r["column"]: r for r in
                (row.asDict() for row in out["runner"].corpus_profile(run_id).collect())}
        for c, (n, mean, sd, lo, hi) in self.profile_expected.items():
            p = prof.get(c)
            if p is None or p["n"] != n or abs(p["mean"] - mean) > 1e-6 \
                    or abs(p["stddev_samp"] - sd) > 1e-6 or p["mn"] != lo or p["mx"] != hi:
                notes.append(f"corpus_profile {c}: {p} vs oracle {(n, mean, sd, lo, hi)}")
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        out["counts"] = {
            "spans.violation_rows": sum(viol.get(e, 0) for e in self.span_expected),
            "runner.partitions_skipped": len(rep.partitions_skipped),
            "store.files": len(files),
            "store.bytes_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        }
        shutil.rmtree(root, ignore_errors=True)
        return self.n_ops, min(len(notes), self.n_ops), notes

    @property
    def corpus_path(self) -> str:
        return self.corpus

    def scan_frame(self):
        return self.spark.read.parquet(self.corpus)

    def scan_bytes(self) -> int:
        return _parquet_bytes(self.corpus)

    def pass_counts(self, out: dict | None) -> dict[str, float]:
        return out.get("counts", {}) if out else {}

    def pass_extras(self, out: dict | None) -> dict[str, float]:
        return {"resume_s": out["resume_s"]} if out else {}

    def corrupt(self, out: dict) -> None:
        _drop_one_row(os.path.join(out["root"], "violations"))

# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


def wide_suite_specs() -> list[tuple[str, dict]]:
    """The lineitem suite: table, map, quantile, two-stage z-score and
    compound-uniqueness expectations, run with SUMMARY unexpected lists."""
    col = "expect_column_"
    return [
        ("expect_table_row_count_to_be_between", {"min_value": 1, "max_value": 10**9}),
        (col + "values_to_not_be_null", {"column": "l_orderkey"}),
        (col + "values_to_be_between", {"column": "l_quantity", "min_value": 1,
                                        "max_value": 50}),
        (col + "values_to_be_in_set", {"column": "l_returnflag", "value_set": ["A", "N"]}),
        (col + "quantile_values_to_be_between", {"column": "l_extendedprice",
         "quantile_ranges": {"quantiles": [0.1, 0.5, 0.9],
                             "value_ranges": [[0, 30_000], [20_000, 80_000],
                                              [60_000, 120_000]]}}),
        (col + "value_z_scores_to_be_less_than", {"column": "l_extendedprice",
                                                  "threshold": 1.5, "double_sided": True,
                                                  "mostly": 0.8}),
        ("expect_compound_columns_to_be_unique",
         {"column_list": ["l_orderkey", "l_linenumber"]}),
    ]


def _norm_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    from scripts.check_entry import norm_rows

    nc, nr = norm_rows(cols, rows)
    return len(nr), hashlib.sha256(repr((nc, nr)).encode()).hexdigest()


class QuerySuite:
    name = "query_suite"
    sf = 0.01
    n_ops = len(QUERIES) + 1
    warmup = 2  # every query and expectation has its own plans to warm
    min_steady = 3

    def shrink(self) -> None:
        self.sf = 0.002

    def inputs(self, seed: int, work: str) -> None:
        self.sf_dir = os.path.join(work, "tables")
        gen.tables(seed, self.sf, self.sf_dir)
        self.n_docs = int(6_000_000 * self.sf)  # lineitem rows
        self.expected: dict[str, tuple[int, str] | None] = {}
        self.first: dict[str, Any] = {}
        self.oracle_done = False

    def open(self, spark) -> None:
        entry = importlib.import_module("__spark_entry__")
        self.spark = spark
        self.queries = {n: entry.queries()[n] for n in QUERIES}
        self.oracles = entry.oracle_sql()
        self.lineitem = spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet"))
        self.suite = _suite("lineitem_wide", wide_suite_specs())

    def run_pass(self) -> dict:
        from sparkcheck import validate_df

        times, results = {}, {}
        t = time.perf_counter()
        results["wide_suite"] = validate_df(self.lineitem, self.suite,
                                            result_format="SUMMARY")
        times["wide_suite"] = time.perf_counter() - t
        for name, fn in self.queries.items():
            t = time.perf_counter()
            with self.tracer.span(f"query.{name}"):
                df = fn(self.spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
            times[name] = time.perf_counter() - t
            results[name] = (df.columns, rows)
        return {"times": times, "results": results}

    def _oracle(self) -> None:
        con = _duckdb()
        for f in os.listdir(self.sf_dir):
            con.sql(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, f)}')")
        for name in QUERIES:
            if name in self.oracles:
                rel = con.sql(self.oracles[name])
                self.expected[name] = _norm_hash(rel.columns, rel.fetchall())
        con.close()
        self.oracle_done = True

    def check(self, out: dict) -> tuple[int, int, list[str]]:
        if not self.oracle_done:
            self._oracle()
        notes, failed = [], 0
        for name, res in out["results"].items():
            note = None
            if name == "wide_suite":
                got = _evr_key(res)
                raised = [r["exception_info"] for r in res["results"]
                          if (r.get("exception_info") or {}).get("raised_exception")]
                if raised:
                    note = f"wide_suite raised: {raised[0]}"
            else:
                got = _norm_hash(*res)
                want = self.expected.get(name)
                if want is not None and got != want:
                    note = f"{name}: rows/hash {got} != oracle {want}"
            if note is None and self.first.setdefault(name, got) != got:
                note = f"{name}: output differs from the first pass"
            if note:
                notes.append(note)
                failed += 1
        return len(out["results"]), failed, notes

    @property
    def corpus_path(self) -> str:
        return self.sf_dir

    def scan_frame(self):
        return self.lineitem

    def scan_bytes(self) -> int:
        return _parquet_bytes(os.path.join(self.sf_dir, "lineitem.parquet"))

    def pass_counts(self, out: dict | None) -> dict[str, float]:
        return {}

    def pass_extras(self, out: dict | None) -> dict[str, float]:
        return dict(out["times"]) if out else {}

    def corrupt(self, out: dict) -> None:
        name = next(n for n, (_, rows) in ((n, r) for n, r in out["results"].items()
                                          if n != "wide_suite") if rows)
        cols, rows = out["results"][name]
        out["results"][name] = (cols, rows[1:])

WORKLOADS = {w.name: w for w in (CorpusValidate, CheckpointResume, QuerySuite)}
