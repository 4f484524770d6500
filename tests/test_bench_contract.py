"""Bench headline-contract guard (r5 verdict ask #7): every declared
query is either benchmarked (HEADLINE) or consciously excluded with a
written reason (EXCLUDED) — coverage drift cannot happen silently."""

import bench
import __spark_entry__ as entry_mod


def test_headline_names_exist_in_queries():
    qs = set(entry_mod.queries())
    missing = [q for q in bench.HEADLINE if q not in qs]
    assert not missing, f"HEADLINE entries without a queries() impl: {missing}"


def test_every_query_is_benched_or_consciously_excluded():
    qs = set(entry_mod.queries())
    covered = set(bench.HEADLINE) | set(bench.EXCLUDED)
    uncovered = sorted(qs - covered)
    assert not uncovered, (
        "queries() entries neither benchmarked nor excluded-with-reason "
        f"(add to bench.HEADLINE or bench.EXCLUDED): {uncovered}"
    )


def test_no_stale_exclusions_or_overlap():
    qs = set(entry_mod.queries())
    stale = sorted(set(bench.EXCLUDED) - qs)
    assert not stale, f"EXCLUDED entries with no queries() impl: {stale}"
    overlap = sorted(set(bench.EXCLUDED) & set(bench.HEADLINE))
    assert not overlap, f"queries both benched and excluded: {overlap}"


def test_exclusions_carry_reasons():
    empty = [q for q, why in bench.EXCLUDED.items() if not str(why).strip()]
    assert not empty, f"EXCLUDED entries with no reason: {empty}"


def test_perfbench_wrap_points_record_spans(spark, sf_dir, tmp_path):
    """perfbench's --trace 1 patches engine, job and request functions in
    module globals from outside. A refactor that calls them through a
    local alias would make the per-layer metrics read 0 silently, so a
    tiny EXPORT+IMPORT under instrument() — the EXPORT async and polled
    over the protocol, the path perfbench drives — must record every
    span perfbench reads. The IMPORT runs twice: REPLACE, whose target
    fingerprint is taken on the write, then APPEND, which reads the
    target back through ``engine.table_fingerprint``."""
    from oracledb_datapump_spark import catalog, dumpset, engine, job, request, session
    from oracledb_datapump_spark.directives import DirectiveBase as D
    from perfbench.spans import Tracer, instrument

    owners = (
        session, job, engine, request, dumpset.DumpSet,
        catalog.ParquetConnector, catalog.DuckDbConnector,
    )
    saved = [(o, dict(vars(o))) for o in owners]
    tracer = Tracer("wrap-points")
    instrument(tracer)
    try:
        tracer.active = True
        dump, wh = str(tmp_path / "dump"), str(tmp_path / "wh")
        exp = job.Job(
            "EXPORT", "TABLE", dumpfiles=dump,
            directives=[D.INCLUDE_SCHEMA("main"), D.INCLUDE_TABLE("nation")],
        )
        exp.run(
            wait=False, connection=catalog.ParquetConnector(sf_dir),
            spark=spark,
        )
        request.handle_request({
            "request": "STATUS",
            "payload": {"job_name": exp.job_name, "dumpdir": dump},
        })
        st = exp.poll_for_completion(rate=0.05)
        assert st.job_state == "COMPLETED", st.error
        st = job.Job(
            "IMPORT", "TABLE", dumpfiles=dump,
            directives=[D.TABLE_EXISTS_ACTION("REPLACE")],
        ).run(connection=catalog.ParquetConnector(wh), spark=spark)
        assert st.job_state == "COMPLETED", st.error
        # a replaced target is fingerprinted on the write, never read back
        assert tracer.calls("engine.table_fingerprint") == 0
        # an APPEND still reads its target back through the wrapped name
        st = job.Job(
            "IMPORT", "TABLE", dumpfiles=dump,
            directives=[D.TABLE_EXISTS_ACTION("APPEND")],
        ).run(connection=catalog.ParquetConnector(wh), spark=spark)
        assert st.job_state == "COMPLETED", st.error
        tracer.active = False
        for name in (
            "engine.run_plans",
            "engine.export_table",
            "engine.import_table",
            "engine.table_fingerprint",
            "planner.plan_export",
            "planner.plan_import",
            "status.status_from_events",
            "request.submit",
        ):
            assert tracer.calls(name) >= 1, name
    finally:
        for owner, attrs in saved:
            for attr, value in attrs.items():
                if vars(owner).get(attr) is not value:
                    setattr(owner, attr, value)
    for owner, attrs in saved:
        assert all(vars(owner).get(a) is v for a, v in attrs.items())
