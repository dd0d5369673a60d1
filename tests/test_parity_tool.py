"""The parity tool's per-entry outcomes (nfl_data_engineering_spark/parity.py):
an oracle that runs out of its DuckDB memory budget is reported as OOB,
not raised out of the process, and an ordinary mismatch stays FAIL."""

from __future__ import annotations

import duckdb

from nfl_data_engineering_spark.parity import check_entry


def test_oracle_out_of_budget_is_its_own_outcome(spark):
    con = duckdb.connect()
    # a budget no hash aggregate over 5M distinct strings fits, with
    # spilling off, stands in for an oracle too large for the host
    con.execute("SET memory_limit = '16MB'")
    con.execute("SET max_temp_directory_size = '0B'")
    heavy = ("SELECT count(DISTINCT range::VARCHAR) AS n "
             "FROM range(5000000)")
    outcome, msgs = check_entry(lambda: spark.range(1), heavy, con)
    assert outcome == "OOB", msgs
    assert "out of the DuckDB budget" in msgs[0]

    ok = check_entry(lambda: spark.range(3), "SELECT range AS id "
                     "FROM range(3)", con)
    assert ok == ("OK", ["3 rows"])
    bad = check_entry(lambda: spark.range(3), "SELECT range AS id "
                      "FROM range(4)", con)
    assert bad[0] == "FAIL"
    con.close()
