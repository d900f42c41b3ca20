"""Engine-level tests: generator validity, mutation ops, reconciliation,
error sink, schema validation, end-to-end pipeline."""

import os

from pyspark.sql import functions as F

from etl_validator_github_spark.generator import (
    generate_bankdata,
    generate_bankdata_distributed,
)
from etl_validator_github_spark.operators import mutate
from etl_validator_github_spark.operators.errors import (
    aggregate_errors_by_payee,
    to_error_records,
)
from etl_validator_github_spark.operators.reconcile import reconcile_errors
from etl_validator_github_spark.operators.validate import (
    ERRORS_COL,
    failing_records,
    validate_schema,
    with_errors,
)
from etl_validator_github_spark.pipeline import validate_file
from etl_validator_github_spark.schema import COLUMNS, R_KEEP_FIELDS
from tests.helpers import VALID_D_CHK, VALID_M_EFT, count_gateway_calls, make_df


def test_generated_data_is_rule_valid(spark):
    df = generate_bankdata(spark, 200, seed=246)
    bad = failing_records(df)
    rows = bad.select("PayeeID", "OrganizationCode", ERRORS_COL).collect()
    assert rows == [], [r.asDict() for r in rows[:5]]


def test_generator_is_seed_deterministic(spark):
    a = generate_bankdata(spark, 50, seed=246).collect()
    b = generate_bankdata(spark, 50, seed=246).collect()
    c = generate_bankdata(spark, 50, seed=7).collect()
    assert a == b
    assert a != c


def test_distributed_generator_partition_invariant(spark):
    one = generate_bankdata_distributed(spark, 100, seed=42, num_partitions=1)
    many = generate_bankdata_distributed(spark, 100, seed=42, num_partitions=7)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_distributed_generator_is_rule_valid(spark):
    df = generate_bankdata_distributed(spark, 500, seed=42)
    bad = failing_records(df)
    rows = bad.select("PayeeID", "OrganizationCode", ERRORS_COL).collect()
    assert rows == [], [r.asDict() for r in rows[:5]]


def test_mutation_operators(spark):
    df = generate_bankdata(spark, 10, seed=1)
    assert "PayeeID" not in mutate.drop_columns(df, ["PayeeID"]).columns

    renamed = mutate.rename_columns(df, {"PayeeID": "PAYEE"})
    assert "PAYEE" in renamed.columns and "PayeeID" not in renamed.columns

    extra = mutate.add_extra_columns(df, ["Bogus"], order_by="PayeeID")
    vals = [r.Bogus for r in extra.orderBy("PayeeID").collect()]
    assert vals[0] == "Bogus_0" or vals[0].startswith("Extra_Bogus_")

    col_inj = mutate.overwrite_column(df, "PaymentMode", "XYZ")
    assert col_inj.filter(F.col("PaymentMode") == "XYZ").count() == 10

    dropped = mutate.drop_rows(df, [0, 1], order_by="PayeeID")
    assert dropped.count() == 8

    dup = mutate.duplicate_row(df, 0, order_by="PayeeID")
    assert dup.count() == 11


def test_min_max_limits_numeric_and_length_branches(spark):
    """Operator-level mirror of PIPE:3325-3432: numeric limits step one
    past the boundary; string limits derive from FIELD_CONSTRAINTS."""
    df = generate_bankdata(spark, 6, seed=1)
    out = mutate.apply_min_max_limits(
        df,
        {"AccountNumber": (10, 99), "State": ("AL", "WY")},
        order_by="PayeeID",
    )
    rows = out.orderBy("PayeeID").select("AccountNumber", "State").collect()
    assert [r.AccountNumber for r in rows[:4]] == ["10", "99", "9", "100"]
    # State constraints are (2, 2): below = 'X', above = 'A' * 7.
    assert [r.State for r in rows[:4]] == ["AL", "WY", "X", "A" * 7]
    # rows past index 3 untouched
    base = df.orderBy("PayeeID").select("State").collect()
    assert [r.State for r in rows[4:]] == [r.State for r in base[4:]]


def test_cell_injection_targets_one_row(spark):
    df = generate_bankdata(spark, 10, seed=1)
    out = mutate.overwrite_cells(df, {("PaymentMode", 3): "POP"}, order_by="PayeeID")
    assert out.filter(F.col("PaymentMode") == "POP").count() == 1


def test_duplicate_payee_detection(spark):
    df = generate_bankdata(spark, 10, seed=1)
    dup = mutate.duplicate_payee_id(df, order_by="PayeeID")
    dupes = mutate.find_duplicate_payees(dup)
    assert dupes.count() == 1
    assert dupes.first().row_count == 2


def test_schema_validation_r24(spark):
    df = make_df(spark, [VALID_M_EFT])
    assert validate_schema(df) == {"missing": [], "extra": []}
    issues = validate_schema(df.drop("PayeeID").withColumn("Zed", F.lit("x")))
    assert issues["missing"] == ["PayeeID"]
    assert issues["extra"] == ["Zed"]


def test_error_records_and_payee_aggregation(spark):
    df = make_df(
        spark,
        [
            {**VALID_M_EFT, "RoutingTransitNumber": "BAD"},
            {**VALID_D_CHK, "PayeeID": "DISP02", "OrganizationIdentifier": "DISP02",
             "RoutingTransitNumber": "123456789"},
        ],
    )
    errors = to_error_records(failing_records(df), filename="input.parquet")
    rows = {r.PayeeId: r for r in errors.collect()}
    assert set(rows) == {"MFR001", "DISP02"}
    assert rows["MFR001"].FILENAME == "input.parquet"
    assert "RoutingTransitNumber must be 9 digits" in rows["MFR001"].ERROR_DESC

    agg = aggregate_errors_by_payee(errors)
    toks = {r.PayeeId: r.error_tokens for r in agg.collect()}
    # Token semantics match the reference comparator (PIPE:822-830): split
    # on ',' — so the CHK message, which itself contains a comma, becomes
    # two tokens on BOTH the CSV and DB sides and still reconciles.
    assert "For PaymentMode CHK" in toks["DISP02"]
    assert "RoutingTransitNumber must be blank" in toks["DISP02"]


def test_reconciliation_token_set_semantics(spark):
    csv = spark.createDataFrame(
        [
            ("f.parquet", "P1", "tok a, tok   b"),
            ("f.parquet", "P2", "tok c"),
        ],
        ["FILENAME", "PayeeId", "ERROR_DESC"],
    )
    # DB has P1 (superset — passes), P2 (exact), P3 (extra — non-fatal).
    db = spark.createDataFrame(
        [
            ("B1", "P1", "tok b, tok a, tok z"),
            ("B1", "P2", "tok c"),
            ("B1", "P3", "tok d"),
        ],
        ["INS_BATCH_ID", "PAYEE_ID", "ERROR_DESC"],
    )
    res = reconcile_errors(csv, db)
    assert res.missing_in_db.isEmpty()
    assert res.mismatched.isEmpty()
    assert res.missing_in_csv.count() == 1  # P3, reported not fatal
    assert not res.counts_match  # 2 CSV rows vs 3 DB rows
    # CSV-side extra token IS fatal.
    csv2 = spark.createDataFrame(
        [("f.parquet", "P1", "tok a, tok NEW")], ["FILENAME", "PayeeId", "ERROR_DESC"]
    )
    res2 = reconcile_errors(csv2, db)
    assert res2.mismatched.count() == 1


def test_pipeline_end_to_end(spark, tmp_path):
    # Generate -> inject violations -> write ready -> validate -> error CSV
    # -> archive: the reference's E1 path in one Spark app.
    df = generate_bankdata(spark, 30, seed=246)
    df = mutate.overwrite_column(df, "RoutingTransitNumber", "BAD123")
    ready = tmp_path / "ready"
    input_path = str(ready / "mtfdm_dev2_dmbankdata_20260310_120000.parquet")
    df.write.parquet(input_path)

    res = validate_file(
        spark,
        input_path,
        error_dir=str(tmp_path / "error"),
        archive_dir=str(tmp_path / "archive"),
    )
    assert not res.file_level_failure
    # Every M/D/P EFT row fails the RTN rules; CHK rows fail the CHK-blank rule.
    assert res.error_count > 0
    assert res.error_file and os.path.exists(res.error_file)
    with open(res.error_file) as fh:
        header = fh.readline().strip()
    assert header == "FILENAME|PayeeId|ERROR_DESC"
    assert res.archived_to and os.path.exists(res.archived_to)
    assert not os.path.exists(input_path)


def test_pipeline_rejects_bad_extension(spark, tmp_path):
    res = validate_file(
        spark, str(tmp_path / "file.txt"), error_dir=str(tmp_path / "err")
    )
    assert res.file_level_failure


def test_pipeline_accepts_orc_end_to_end(spark, tmp_path):
    # ORC is part of read_bankdata's format matrix; the file-level
    # extension gate must let .orc bank files flow through the full
    # validate -> error CSV -> archive path, not just the io layer.
    from etl_validator_github_spark.sources.io import write_bankdata

    df = generate_bankdata(spark, 20, seed=246)
    df = mutate.overwrite_column(df, "RoutingTransitNumber", "BAD123")
    input_path = str(tmp_path / "ready" / "mtfdm_dev2_dmbankdata_x.orc")
    write_bankdata(df, input_path, fmt="orc")

    res = validate_file(
        spark,
        input_path,
        error_dir=str(tmp_path / "error"),
        archive_dir=str(tmp_path / "archive"),
    )
    assert not res.file_level_failure
    assert res.error_count > 0
    assert res.error_file and os.path.exists(res.error_file)
    assert res.archived_to and os.path.exists(res.archived_to)


def test_clear_r_columns(spark):
    df = make_df(spark, [{**VALID_M_EFT, "OrganizationCode": "R"}])
    out = mutate.clear_r_columns(df, keep=R_KEEP_FIELDS)
    row = out.first()
    assert row.RoutingTransitNumber is None
    assert row.PayeeID == "MFR001"


def test_default_end_date_for_deactivated(spark):
    import datetime as dt

    from etl_validator_github_spark.pipeline import default_end_date_for_deactivated

    df = spark.createDataFrame(
        [
            ("D", ""),            # deactivated, blank → defaulted
            ("D", "2026-01-15"),  # deactivated, explicit → kept
            ("A", ""),            # active, blank → stays blank
        ],
        "RecordOperation: string, EffectiveEndDate: string",
    )
    out = default_end_date_for_deactivated(df, as_of=dt.date(2026, 3, 10))
    got = [r.EffectiveEndDate for r in out.orderBy("RecordOperation", "EffectiveEndDate").collect()]
    assert got == ["", "2026-01-15", "2026-03-10"]


def test_run_scenario_invalid_values_row_counts_match(spark, tmp_path):
    from etl_validator_github_spark.pipeline import run_scenario

    res = run_scenario(
        spark, str(tmp_path), rows=30, seed=246,
        invalid_cells={("RoutingTransitNumber", 2): "54321",
                       ("RecordOperation", 5): "Z"},
    )
    assert res.csv_error_count == 2
    assert res.counts_match and res.reconcile_passed
    assert "Row counts MATCH" in res.summary()
    assert res.pipeline.archived_to is not None


def test_run_scenario_valid_data_no_error_file(spark, tmp_path):
    from etl_validator_github_spark.pipeline import run_scenario

    res = run_scenario(spark, str(tmp_path), rows=20, seed=246)
    # Valid base scenario (E2): no error CSV, both sides empty → pass.
    assert res.pipeline.error_file is None
    assert res.csv_error_count == 0 and res.db_error_count == 0
    assert res.counts_match and res.reconcile_passed


def test_error_folder_parquet_fails_the_run(spark, tmp_path):
    """Reference PIPE:1079-1093 / 2170: a parquet artifact appearing in
    the error folder DURING the run window (where only pipe-CSV error
    files belong) fails the run; a stale leftover from before the run
    does not (the LastModified window)."""
    import time as _time

    from etl_validator_github_spark.pipeline import (
        find_unexpected_error_parquet_files,
        run_scenario,
    )

    error_dir = tmp_path / "error"
    error_dir.mkdir(parents=True)
    planted = error_dir / "sneaky_raw_dump.parquet"
    planted.write_bytes(b"PAR1 not really parquet PAR1")
    # Bump mtime into the run window (planting precedes the run start).
    future = _time.time() + 3600
    os.utime(planted, (future, future))
    assert find_unexpected_error_parquet_files(str(error_dir)) == [str(planted)]

    res = run_scenario(
        spark, str(tmp_path), rows=20, seed=246,
        invalid_values={"RoutingTransitNumber": "BAD123"},
    )
    assert res.pipeline.file_level_failure
    assert res.pipeline.details["unexpected_parquet_files"] == [str(planted)]
    assert not res.counts_match and not res.reconcile_passed
    # The error CSV itself was still written before the invariant check —
    # only the run verdict fails.
    assert res.pipeline.error_file and os.path.exists(res.pipeline.error_file)

    # Stale leftover (mtime before the next run's window): the next run
    # must NOT be permanently poisoned by it.
    past = _time.time() - 3600
    os.utime(planted, (past, past))
    res2 = run_scenario(
        spark, str(tmp_path), rows=20, seed=246,
        invalid_values={"RoutingTransitNumber": "BAD123"},
    )
    assert not res2.pipeline.file_level_failure
    assert res2.counts_match and res2.reconcile_passed


def test_error_folder_window_ignores_preexisting_parquet(tmp_path):
    """The min_modified_epoch window (the reference's LastModified
    filter) must exclude artifacts older than the run start."""
    import time as _time

    from etl_validator_github_spark.pipeline import (
        find_unexpected_error_parquet_files,
    )

    error_dir = tmp_path / "error"
    error_dir.mkdir(parents=True)
    old = error_dir / "leftover.parquet"
    old.write_bytes(b"old")
    os.utime(old, (1_000_000, 1_000_000))
    new = error_dir / "fresh.parquet"
    new.write_bytes(b"new")
    cutoff = _time.time() - 3600
    assert find_unexpected_error_parquet_files(
        str(error_dir), min_modified_epoch=cutoff
    ) == [str(new)]
    assert find_unexpected_error_parquet_files(str(error_dir)) == sorted(
        [str(old), str(new)]
    )


def test_expectations_hand_data_all_branches(spark):
    """Expectations on hand data: every check kind hits both the clean
    and the violating branch, including the NULL conventions (NULL not
    in set / out of range / counted once for uniqueness)."""
    from etl_validator_github_spark.operators.expectations import (
        expect_between,
        expect_in_set,
        expect_matches,
        expect_not_null,
        expect_unique,
        run_expectations,
    )

    df = spark.createDataFrame(
        [(1, "A", 5.0, "1-HIGH"),
         (1, "B", -2.0, "9-BAD"),
         (None, "Z", None, None),
         (3, "A", 7.0, "2-MED")],
        "k long, s string, x double, p string",
    )
    out = {r["check"]: r["n_violations"]
           for r in run_expectations(df, [
               expect_not_null("k"),
               expect_unique("k"),          # 1,1,NULL,3 → one extra row
               expect_in_set("s", ("A", "B")),   # Z + none
               expect_between("x", 0.0, 10.0),   # -2 + NULL
               expect_matches("p", "^[1-5]-"),   # 9-BAD + NULL
           ]).collect()}
    assert out["not_null(k)"] == 1
    assert out["unique(k)"] == 1      # 4 rows - {1,3} - NULL-slot = 1
    assert out["in_set(s)"] == 1
    assert out["between(x)"] == 2
    assert out["matches(p)"] == 2


def test_rule_counter_summary_equals_explode_form(spark):
    """summarize_rule_violations (r13 counter aggregation) must be
    value-identical to the explode form it replaced — same messages,
    same counts, same order, zero-count messages absent from both."""
    from pyspark.sql import Row

    from etl_validator_github_spark.operators.rules import Rule
    from etl_validator_github_spark.operators.validate import (
        summarize_errors,
        summarize_rule_violations,
    )

    df = generate_bankdata(spark, 40, seed=246)
    df = mutate.overwrite_cells(
        df,
        {("RoutingTransitNumber", 2): "ABC12",
         ("OrganizationTIN", 5): "12",
         ("OrganizationCode", 7): "Z"},
        order_by="PayeeID",
    )
    fast = [r.asDict() for r in summarize_rule_violations(df).collect()]
    slow = [r.asDict() for r in summarize_errors(with_errors(df)).collect()]
    assert fast == slow
    assert fast, "injections must make the comparison non-vacuous"

    # Custom-rules path, including two rules SHARING a message (the
    # counter form must re-merge them like the explode form does).
    toy = spark.createDataFrame(
        [Row(x=1, y=10), Row(x=-1, y=10), Row(x=2, y=-5), Row(x=-3, y=-7)]
    )
    rules = [
        Rule("x_pos", "value out of range", "x >= 0"),
        Rule("y_pos", "value out of range", "y >= 0"),
        Rule("x_small", "x too large", "x <= 1"),
    ]
    fast = [r.asDict()
            for r in summarize_rule_violations(toy, rules=rules).collect()]
    slow = [r.asDict()
            for r in summarize_errors(with_errors(toy, rules=rules)).collect()]
    assert fast == slow == [
        {"error_desc": "value out of range", "error_count": 4},
        {"error_desc": "x too large", "error_count": 1},
    ]

    # rules=[] must return an empty frame like the explode form did,
    # not raise from df.agg() with zero aggregates (r14, ADVICE r13).
    empty = summarize_rule_violations(toy, rules=[])
    assert empty.columns == ["error_desc", "error_count"]
    assert empty.collect() == []


def test_sql_str_round_trips_quotes_and_backslashes(spark):
    """A rule message and a predicate literal holding both ' and \\ come
    back from with_errors unchanged."""
    from etl_validator_github_spark.functions.core import sql_str
    from etl_validator_github_spark.operators.rules import Rule

    odd = "it's C:\\temp\\'x'\\d+\\\\"
    msg = "can't hold \\ or '\\n'"
    df = spark.createDataFrame([(odd,), ("plain",)], "s string")
    rules = [Rule("odd_value", msg, f"s != {sql_str(odd)}")]
    got = {r["s"]: r[ERRORS_COL] for r in with_errors(df, rules=rules).collect()}
    assert got == {odd: [msg], "plain": []}


def test_rule_engine_gateway_calls_stay_few(spark):
    """Building the catalog, summary and generator projections is a
    handful of py4j round trips on every call, cached or not (a
    Column-at-a-time build of the same catalog costs thousands)."""
    from etl_validator_github_spark.operators.rules import bankdata_rules
    from etl_validator_github_spark.operators.validate import (
        summarize_rule_violations,
    )

    df = generate_bankdata(spark, 20, seed=246)
    for seed in (4241, 4242):
        with count_gateway_calls(spark) as default:
            with_errors(df)
        with count_gateway_calls(spark) as explicit:
            with_errors(df, rules=bankdata_rules())
        with count_gateway_calls(spark) as summary:
            summarize_rule_violations(df)
        with count_gateway_calls(spark) as summary_explicit:
            summarize_rule_violations(df, rules=bankdata_rules())
        with count_gateway_calls(spark) as gen:
            generate_bankdata_distributed(spark, 100, seed=seed)
        assert default.calls <= 20 and explicit.calls <= 20
        assert summary.calls <= 60 and summary_explicit.calls <= 60
        assert gen.calls <= 80


def test_no_module_holds_spark_handles(spark, sf_dir):
    """No package module keeps py4j-backed state between calls: after a
    generate -> validate -> summarize -> bankdata_validate run, no global
    dict, list or tuple holds a Column or JavaObject."""
    import sys

    from py4j.java_gateway import JavaObject
    from pyspark.sql import Column

    from etl_validator_github_spark.operators.validate import (
        summarize_rule_violations,
    )
    from etl_validator_github_spark.queries.validation import VALIDATION_QUERIES

    df = generate_bankdata_distributed(spark, 200)
    with_errors(df).collect()
    summarize_rule_violations(df).collect()
    assert VALIDATION_QUERIES["bankdata_validate"].build(spark, sf_dir).count() > 0

    def holds_handle(obj, depth=0) -> bool:
        if isinstance(obj, (Column, JavaObject)):
            return True
        if depth > 4:
            return False
        if isinstance(obj, dict):
            items = [*obj.keys(), *obj.values()]
        elif isinstance(obj, (list, tuple)):
            items = obj
        else:
            return False
        return any(holds_handle(x, depth + 1) for x in items)

    held = [
        f"{name}.{attr}"
        for name, mod in list(sys.modules.items())
        if name.startswith("etl_validator_github_spark") and mod is not None
        for attr, value in vars(mod).items()
        if isinstance(value, (dict, list, tuple)) and holds_handle(value)
    ]
    assert held == []
