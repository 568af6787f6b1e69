"""The benchmark workloads.

Each workload is closed-loop with a single client: the next operation
starts when the previous one returns. ``prepare`` writes the seeded
inputs (timed as set-up), ``warmup`` runs the fixed, checked warm-up,
``run_op`` is one timed operation and ``check`` verifies its output
outside the timer. The measured window ends on a multiple of
``round_ops`` operations. Every call into a layer of the program is
wrapped in a tracer span named after that layer.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import random

import gen

#: The registry queries of the mix; the consolidacao_de_metricas view over
#: the generated IDA fact table is the eleventh member.
QUERY_MIX = [
    "flagship_mom_pivot", "lag_mom_variation", "conditional_pivot",
    "having_countdistinct", "pricing_summary", "fact_join_revenue",
    "market_share", "window_suite", "grouping_sets", "cohort_retention",
]
VIEW = "consolidacao_de_metricas"
#: The twelfth member: the corpus-curation pipeline over a generated corpus.
CURATION = "curation"
#: Threads running query_mix's warm-up queries, one per pinned core.
WARMUP_THREADS = 4
STAR_TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]

#: The spec of the mix's curation member.
CURATION_SPEC = [
    {"op": "quality_gate", "min_chars": 40, "min_tokens": 10},
    {"op": "normalize"},
    {"op": "exact_dedup"},
    {"op": "near_dedup"},
    {"op": "split", "weights": [["train", 0.9], ["val", 0.05], ["test", 0.05]]},
]

#: Spark's CSV reader accepts these charset names only; cp1252 files are
#: read as ISO-8859-1, which decodes every character the generator puts
#: in a data row identically.
SPARK_CHARSET = {"utf-8": "UTF-8", "latin-1": "ISO-8859-1", "cp1252": "ISO-8859-1"}


class CheckFailed(Exception):
    pass


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


# --------------------------------------------------------------------------


class EtlFleet:
    """The reference's whole job on a fleet of per-(service, year) files:
    ingest every file, consolidate + finalize, write the CSV, reload it
    typed, and collect the consolidacao_de_metricas view over it."""

    name = "etl_fleet"
    round_ops = 1

    def prepare(self, spark, seed: int, work: str) -> None:
        self.expected = gen.gen_fleet(seed, os.path.join(work, "fleet"))
        self.out = os.path.join(work, "fact_csv")
        self.first_view = None
        #: calls that go round a known program defect, printed with the
        #: host context of every run
        self.bypasses = [
            f"{os.path.basename(path)} ({encoding}): read_headerless_csv + transform_wide"
            " instead of ingest_wide_file, whose charset probe Spark rejects (NOTES.md defect 3)"
            for path, _, encoding in self.expected["files"] if encoding != "utf-8"
        ]

    def warmup(self, spark, tr, attempt) -> None:
        """One checked operation."""
        attempt(lambda: (self.run_op(spark, tr), self.check(spark)))

    def units(self) -> int:
        return self.expected["rows"]

    def run_op(self, spark, tr) -> str:
        from be_analytic_etl_spark.operators.consolidate import consolidate, finalize
        from be_analytic_etl_spark.plans.flagship import create_consolidacao_view
        from be_analytic_etl_spark.sources.ingest import (
            ingest_wide_file, read_headerless_csv, read_typed_csv, transform_wide,
        )
        from be_analytic_etl_spark.sources.sinks import write_csv

        frames = []
        for path, service, encoding in self.expected["files"]:
            with tr.span("ingest", "ingest_wide_file"):
                if encoding == "utf-8":
                    frames.append(ingest_wide_file(spark, path, service))
                else:
                    # ingest_wide_file's probe names these files 'latin-1',
                    # which Spark's CSV reader rejects (NOTES.md, defect 3);
                    # this is its body with the charset passed in. Call
                    # ingest_wide_file here too once the probe is fixed.
                    raw = read_headerless_csv(spark, path, encoding=SPARK_CHARSET[encoding])
                    frames.append(transform_wide(raw, service))
        with tr.span("consolidate", "consolidate_finalize"):
            fact = finalize(consolidate(frames))
        with tr.span("sinks", "write_csv"):
            write_csv(fact, self.out)
        with tr.span("ingest", "read_typed_csv"):
            self.reloaded = read_typed_csv(spark, self.out)
        with tr.span("flagship", "view"):
            self.view = _rows(create_consolidacao_view(spark, self.reloaded))
        return self.name

    def check(self, spark) -> None:
        from pyspark.sql import functions as F

        from be_analytic_etl_spark.plans.flagship import consolidacao_de_metricas

        e = self.expected
        got = self.reloaded.agg(
            F.count(F.lit(1)), F.count("valor"),
            F.sum(F.round(F.col("valor") * 100).cast("long")),
            F.min("id"), F.max("id"), F.countDistinct("id"),
        ).first()
        want = (e["rows"], e["valor_count"], e["valor_cents"], 1, e["rows"], e["rows"])
        _require(tuple(got) == want, f"fact (rows, valores, cents, min id, max id, ids) {tuple(got)} != {want}")
        _require(len(self.view) > 0, "consolidacao_de_metricas view is empty")
        if self.first_view is None:
            df_path = _rows(consolidacao_de_metricas(self.reloaded))
            _require(df_path == self.view, "view SQL text != consolidacao_de_metricas DataFrame path")
            self.first_view = self.view
        _require(self.view == self.first_view, "view rows changed between operations")

    def layer_counts(self) -> dict:
        files = [f for f in os.listdir(self.out) if f.startswith("part-")]
        return {
            "files": len(self.expected["files"]),
            "rows_in": self.expected["lines"],
            "long_rows": self.expected["long_rows"],
            "rows_out": self.expected["rows"],
            "files_written": len(files),
        }


# --------------------------------------------------------------------------


def _fmt(v) -> str:
    """Canonical cell text, as tools/verify_driver.py spells it:
    full-precision floats, int vs float kept apart, dates as midnight
    datetimes, NULL/NaN/NaT as NULL."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "i:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if f != f else "f:" + f"{f:.17g}"
    if isinstance(v, decimal.Decimal):
        return "d:" + str(v.normalize())
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if getattr(v, "tzinfo", None) is not None:
            v = v.tz_convert("UTC").tz_localize(None) if isinstance(v, pd.Timestamp) else v
        return "t:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "t:" + v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "a:[" + ",".join(_fmt(x) for x in v) + "]"
    return "s:" + str(v)


def canon(pdf) -> tuple[list[str], int, str]:
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_fmt(r[i]) for i in order) for r in pdf.itertuples(index=False))
    return sorted(cols), len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


class QueryMix:
    """The jobs an analyst's shared session serves: one operation is one
    member of the mix. The ten registry queries are built through the
    registry and executed with the noop sink; the view is built over the
    generated IDA fact and executed the same way; the curation member runs
    the corpus pipeline and writes it as partitioned JSON lines. A pass
    visits every member once, in an order shuffled by the seed."""

    name = "query_mix"
    round_ops = len(QUERY_MIX) + 2
    bypasses: list[str] = []

    def prepare(self, spark, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "star")
        self.expected = gen.gen_star(seed, self.dir)
        self.corpus_dir = os.path.join(work, "corpus")
        self.corpus = gen.gen_corpus(seed, self.corpus_dir)
        self.out = os.path.join(work, "curated_jsonl")
        self.survivors = None
        self.rng = random.Random(seed)
        self.queue: list[str] = []
        self.last = None

    def next_query(self) -> str:
        if not self.queue:
            self.queue = QUERY_MIX + [VIEW, CURATION]
            self.rng.shuffle(self.queue)
        self.last = self.queue.pop()
        return self.last

    def build(self, spark, tr, q: str):
        from be_analytic_etl_spark import registry
        from be_analytic_etl_spark.plans.flagship import create_consolidacao_view

        if q == VIEW:
            with tr.span("flagship", "view.build"):
                return create_consolidacao_view(spark, self.fact(spark))
        with tr.span("registry", f"{q}.build"):
            return registry.QUERIES[q](spark, self.dir)

    def fact(self, spark):
        return spark.read.parquet(os.path.join(self.dir, "ida_fact.parquet"))

    def curate(self, spark, tr) -> None:
        from be_analytic_etl_spark.pipeline import run_pipeline
        from be_analytic_etl_spark.session import cached_scope
        from be_analytic_etl_spark.sources.sinks import write_jsonl

        # cached_scope releases the stages' persisted intermediates, so
        # passes do not accumulate cached blocks.
        with cached_scope(spark):
            docs = spark.read.parquet(self.corpus_dir)
            with tr.span("pipeline", "run_pipeline"):
                out = run_pipeline(docs, CURATION_SPEC)
            with tr.span("sinks", "write_jsonl"):
                write_jsonl(out, self.out)

    def warmup(self, spark, tr, attempt) -> None:
        """The first execution of every member, checked, on parallel
        threads: their cold cost (code generation, class loading) is
        mostly single-threaded driver work. The members share no state.
        The curation member's cached_scope releases every block persisted
        while it runs, whichever thread persisted it; the other members
        persist nothing, so it releases only its own."""
        from concurrent.futures import ThreadPoolExecutor

        units = [lambda: (self.curate(spark, tr), self.check_curation(spark))]
        units += [lambda q=q: self.warm_query(spark, tr, q) for q in QUERY_MIX + [VIEW]]
        with ThreadPoolExecutor(max_workers=WARMUP_THREADS) as pool:
            for fut in [pool.submit(attempt, unit) for unit in units]:
                fut.result()

    def warm_query(self, spark, tr, q: str) -> None:
        """Execute ``q`` and check it: a registry query against its
        ORACLE_SQL twin in DuckDB, the view against the
        consolidacao_de_metricas DataFrame path."""
        import duckdb

        got = canon(self.build(spark, tr, q).toPandas())
        if q == VIEW:
            from be_analytic_etl_spark.plans.flagship import consolidacao_de_metricas

            want = canon(consolidacao_de_metricas(self.fact(spark)).toPandas())
            _require(want[1] > 0, "consolidacao_de_metricas view is empty")
        else:
            from be_analytic_etl_spark import registry

            with duckdb.connect() as duck:
                for t in STAR_TABLES:
                    path = os.path.join(self.dir, t + ".parquet")
                    duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                want = canon(duck.execute(registry.ORACLE_SQL[q]).df())
        _require(got == want, f"{q}: spark (cols, rows) {got[:2]} != oracle {want[:2]} or values differ")

    def run_op(self, spark, tr) -> str:
        q = self.next_query()
        if q == CURATION:
            self.curate(spark, tr)
            return q
        df = self.build(spark, tr, q)
        layer, name = (("flagship", "view") if q == VIEW else ("registry", q))
        with tr.span(layer, f"{name}.execute"):
            df.write.format("noop").mode("overwrite").save()
        return q

    def check(self, spark) -> None:
        """The noop sink leaves no output to check; the warm-up checked
        every query's result. Curation runs are checked every time."""
        if self.last == CURATION:
            self.check_curation(spark)

    def check_curation(self, spark) -> None:
        """No two survivors share identical text, the count lies between
        the distinct base documents and the distinct long texts, and it
        equals the first run's."""
        from pyspark.sql import functions as F

        e = self.corpus
        got = spark.read.json(self.out).agg(F.count(F.lit(1)), F.countDistinct("text")).first()
        n, distinct = int(got[0]), int(got[1])
        _require(n == distinct, f"{n - distinct} survivors share identical text")
        _require(e["base"] <= n <= e["distinct_long"],
                 f"{n} survivors outside [{e['base']}, {e['distinct_long']}]")
        if self.survivors is None:
            self.survivors = n
        _require(n == self.survivors, f"survivor count {n} != first run's {self.survivors}")

    def units(self) -> int:
        return 1

    def layer_counts(self) -> dict:
        files = [f for f in os.listdir(self.out) if f.startswith("part-")]
        return {"docs": self.corpus["docs"], "survivors": self.survivors or 0,
                "files_written": len(files)}


WORKLOADS = {w.name: w for w in (EtlFleet, QueryMix)}
