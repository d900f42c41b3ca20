"""The benchmark's workloads. Each is one closed-loop client: ``prepare``
(untimed) readies op ``i``'s inputs, ``run`` (timed) is the op itself,
``check`` (untimed) verifies its output.

The library is driven only through its public functions: ``generator``,
``operators.mutate`` (inside ``pipeline.run_scenario``), ``sources.io``,
``pipeline``, ``streaming.pipeline``, ``queries.CATALOG`` and
``plans.session``; the DuckDB oracles come from ``queries``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from perfbench import checks
from perfbench.tables import write_tables
from perfbench.tracing import plan_ms


@dataclass
class Outcome:
    """What ``check`` found for one op."""

    rows: int  # input rows the op processed
    problems: list[str]
    layers: dict = field(default_factory=dict)  # per-layer context


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- bankfile_small -----------------------------------------------------------------

REC_ENUM = "RecordOperation must be one of A, C or D"
RTN9 = "RoutingTransitNumber must be 9 digits"
RTN_NUM = ("RoutingTransitNumber should be numeric for M, D and P records "
           "with payment type as EFT.")
RTN_CHK = "For PaymentMode CHK, RoutingTransitNumber must be blank"
ACCT_EFT = "AccountNumber must be 2 to 17 numeric digits for EFT records"
ACCT_CHK = "For PaymentMode CHK, AccountNumber must be blank"
AT_CHK = "For PaymentMode CHK, AccountType must be blank"
R_BLANK = "For OrgCode R, all banking/address fields must be completely blank"
TINTYPE_INV = "Invalid OrganizationTinType for non-R records"
TINTYPE_CHARSET = "OrganizationTINType must not contain special characters"

ALL_ROWS = -1  # target key: every payee in the file

#: Injection scenarios from the reference's scenario tests:
#: (name, whole-column overrides, cell overrides by PayeeID-ordered row,
#:  row -> messages the targeted payee must carry).
SCENARIOS = (
    ("recordoperation_invalid_z", {"RecordOperation": "Z"}, {},
     {ALL_ROWS: [REC_ENUM]}),
    ("eft_rtn_5_digits", {"OrganizationCode": "D", "PaymentMode": "EFT"},
     {("OrganizationCode", 0): "P", ("OrganizationCode", 1): "P",
      ("RoutingTransitNumber", 0): "54321", ("AccountNumber", 1): "8"},
     {0: [RTN9, RTN_NUM], 1: [ACCT_EFT]}),
    ("chk_with_rtn", {"OrganizationCode": "D", "PaymentMode": "CHK"},
     {("OrganizationCode", 0): "P", ("OrganizationCode", 1): "P",
      ("RoutingTransitNumber", 0): "123456789",
      ("AccountNumber", 1): "123456789", ("AccountType", 2): "CHKING"},
     {0: [RTN_CHK], 1: [ACCT_CHK], 2: [AT_CHK]}),
    ("r_with_banking_fields", {},
     {("OrganizationCode", 0): "R", ("RoutingTransitNumber", 0): "123456789",
      ("OrganizationCode", 1): "R", ("AccountNumber", 1): "12345678"},
     {0: [R_BLANK], 1: [R_BLANK]}),
    ("bad_tintype", {"OrganizationCode": "D"},
     {("OrganizationTINType", 0): "XXX", ("OrganizationTINType", 1): "@#$!!!"},
     {0: [TINTYPE_INV], 1: [TINTYPE_INV, TINTYPE_CHARSET]}),
)


class BankfileSmall:
    """One op = one ``pipeline.run_scenario`` on a 50-row file: generate,
    inject, write to ready/, validate, write the error CSV, archive,
    reconcile. Ops rotate through :data:`SCENARIOS` from the first one;
    the seed picks each op's generator seed."""

    name = "bankfile_small"
    rows = 50
    # The first op compiles the rule catalog, and ops keep speeding up for
    # a while after it as the JIT compiles the planner. While that is still
    # going on, a burst of CPU contention slows ops up to twofold.
    warmup_ops = 4

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self._rng = random.Random(ctx.seed)
        self._seeds: dict[int, int] = {}

    def setup(self) -> list[str]:
        return []

    def _op_dir(self, i: int) -> str:
        return os.path.join(self.ctx.work, f"op{i}")

    def prepare(self, i: int) -> None:
        self._seeds[i] = self._rng.randrange(1, 2**31)
        _fresh(self._op_dir(i))

    def run(self, i: int):
        from etl_validator_github_spark import pipeline

        _name, values, cells, _targets = SCENARIOS[i % len(SCENARIOS)]
        return pipeline.run_scenario(
            self.ctx.spark, self._op_dir(i), rows=self.rows,
            seed=self._seeds[i], invalid_values=values, invalid_cells=cells,
        )

    def check(self, i: int, res) -> Outcome:
        import pyarrow.parquet as pq

        name, _values, _cells, targets = SCENARIOS[i % len(SCENARIOS)]
        p = res.pipeline
        if p.file_level_failure:
            return Outcome(self.rows, [f"{name}: file rejected: {p.details}"])
        if not p.error_file or not p.archived_to:
            return Outcome(self.rows, [f"{name}: no error file or archive"])
        payees = sorted(pq.read_table(p.archived_to, columns=["PayeeID"])
                        .column("PayeeID").to_pylist())
        want = {}
        for row, msgs in targets.items():
            for payee in (payees if row == ALL_ROWS else [payees[row]]):
                want[payee] = msgs
        rows = checks.read_error_rows([p.error_file])
        problems = checks.check_scenario(res.summary(), rows, want)
        if not res.reconcile_passed:
            problems.append(f"{name}: reconciliation failed")
        shutil.rmtree(self._op_dir(i), ignore_errors=True)
        return Outcome(self.rows, [f"{name}: {m}" for m in problems],
                       {"error_rows": p.error_count})


# -- bank files with the INJECTIONS spec ---------------------------------------------

def write_injected_bankdata(spark, path: str, n: int, seed: int,
                            files: int) -> None:
    """``generate_bankdata_distributed`` rows with the catalog's
    ``INJECTIONS`` violations (about 13% of rows fail), written as
    ``files`` parquet part files under ``path``."""
    from pyspark.sql import functions as F

    from etl_validator_github_spark.generator import generate_bankdata_distributed
    from etl_validator_github_spark.queries.bankdata_oracle import (
        INJECTIONS,
        injection_key_expr,
    )
    from etl_validator_github_spark.sources import io

    df = generate_bankdata_distributed(spark, n, seed=seed,
                                       num_partitions=files, keep_id=True)
    key = injection_key_expr(seed)
    overrides = {}
    for lo, hi, col, val in INJECTIONS:
        overrides[col] = F.when(key.between(lo, hi), F.lit(val)).otherwise(
            overrides.get(col, F.col(col)))
    df = df.select(*[overrides.get(c, F.col(c)).alias(c)
                     for c in df.columns if c != "id"])
    io.write_bankdata(df, path, fmt="parquet")


# -- stream_drain ---------------------------------------------------------------------

class StreamDrain:
    """One op = one ``stream_validate(available_now=True)`` draining a
    fresh ready folder of ``files`` bank files (``rows_per_file`` rows
    each) into a fresh error folder and checkpoint."""

    name = "stream_drain"
    # Ops speed up for three drains as the JIT compiles the streaming
    # path. A measured op on that slope moves the median, most in a slow
    # spell, when fewer ops fit in a run.
    warmup_ops = 3
    files = 32  # two micro-batches: stream_validate takes 16 files a trigger
    rows_per_file = 2_000

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n = self.files * self.rows_per_file
        self.src = os.path.join(ctx.work, "bank.parquet")
        self.expected: list[dict[str, str]] = []

    def setup(self) -> list[str]:
        """Generate the files and validate them once with the batch
        pipeline: every drain must reproduce the batch error rows."""
        from etl_validator_github_spark import pipeline

        spark = self.ctx.spark
        write_injected_bankdata(spark, self.src, self.n, self.ctx.seed, self.files)
        batch = os.path.join(self.ctx.work, "batch")
        copy = os.path.join(batch, "ready", "bank.parquet")
        shutil.copytree(self.src, copy)
        res = pipeline.validate_file(
            spark, copy, error_dir=os.path.join(batch, "error"),
            archive_dir=os.path.join(batch, "archive"))
        if res.file_level_failure or not res.error_file:
            return [f"batch validation of the stream input failed: {res.details}"]
        self.expected = checks.read_error_rows([res.error_file])
        shutil.rmtree(batch)
        return []

    def _op_dir(self, i: int) -> str:
        return os.path.join(self.ctx.work, f"op{i}")

    def prepare(self, i: int) -> None:
        shutil.copytree(self.src, os.path.join(_fresh(self._op_dir(i)), "ready"))

    def run(self, i: int):
        from etl_validator_github_spark.streaming import pipeline as streaming

        d = self._op_dir(i)
        query = streaming.stream_validate(
            self.ctx.spark, os.path.join(d, "ready"), os.path.join(d, "error"),
            os.path.join(d, "checkpoint"), available_now=True)
        with self.ctx.tracer.span("bench:await_termination"):
            query.awaitTermination()
        return query

    def check(self, i: int, query) -> Outcome:
        if query.exception() is not None:
            return Outcome(self.n, [f"stream failed: {query.exception()}"])
        rows = checks.read_error_rows(
            checks.csv_parts(os.path.join(self._op_dir(i), "error")))
        problems = checks.check_same_errors(rows, self.expected)
        progress = query.recentProgress
        layers = {"error_rows": len(rows), "batches": len(progress)}
        for key in ("triggerExecution", "addBatch", "queryPlanning",
                    "walCommit", "latestOffset"):
            layers[f"ms.{key}"] = [p.durationMs.get(key, 0) for p in progress]
        shutil.rmtree(self._op_dir(i), ignore_errors=True)
        return Outcome(self.n, problems, layers)


# -- catalog ---------------------------------------------------------------------------

#: The catalog pass: six of the ``bench=True`` queries, one per kind of
#: work (scan + aggregate, six-table join, window, LSH dedup shuffles, IVF
#: search behind a barrier, as-of join). All eighteen would not fit a run:
#: a cold pass alone takes about 25 s on four cores. ``bankdata_validate``
#: is left to the two bank workloads, which run the same rule engine.
CATALOG_QUERIES = (
    "q1_pricing_summary", "q5_local_supplier", "latest_order_per_customer",
    "dedup_minhash_lsh", "embed_ivf_topk", "events_asof_join",
)


class Catalog:
    """One op = one pass over :data:`CATALOG_QUERIES` on seeded tables at
    scale ``scale``; each query is built and fully collected."""

    name = "catalog_sf0.01"
    # The cold pass compiles every query; the second one is still a
    # fifth slower than the passes after it.
    warmup_ops = 2
    scale = 0.01

    def __init__(self, ctx) -> None:
        from etl_validator_github_spark.queries import CATALOG

        self.ctx = ctx
        self.queries = {n: CATALOG[n] for n in CATALOG_QUERIES}
        self.sf_dir = os.path.join(ctx.work, "tables", "sf0.01")
        self.expected: dict = {}
        self.input_rows = 0

    def setup(self) -> list[str]:
        import duckdb

        from etl_validator_github_spark.contract import TABLES

        self.input_rows = sum(write_tables(self.sf_dir, self.ctx.seed,
                                           self.scale).values())
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for name, q in self.queries.items():
                res = con.execute(q.oracle)
                self.expected[name] = checks.canonical_rows(
                    [d[0] for d in res.description], res.fetchall())
        return []

    def prepare(self, i: int) -> None:
        pass

    def run(self, i: int):
        tracer, spark, out = self.ctx.tracer, self.ctx.spark, {}
        for name, q in self.queries.items():
            t = time.perf_counter()
            with tracer.span("queries:build"):
                df = q.build(spark, self.sf_dir)
            with tracer.span("bench:collect"):
                rows = df.collect()
            out[name] = (df, rows, time.perf_counter() - t)
        return out

    def check(self, i: int, out) -> Outcome:
        problems = []
        for name, (df, rows, _s) in out.items():
            got = checks.canonical_rows(df.columns, rows)
            problems += checks.check_query(name, got, self.expected[name])
        layers = {f"queries.{n}.s": s for n, (_d, _r, s) in out.items()}
        layers["plan_ms"] = sum(plan_ms(df) for df, _r, _s in out.values())
        return Outcome(self.input_rows, problems, layers)


WORKLOADS = {w.name: w for w in (BankfileSmall, StreamDrain, Catalog)}
