"""The KLL bounds check of scripts/check_oracles.py over a DuckDB table:
a value's rank is the interval [P(X < v), P(X <= v)]."""

import importlib.util
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracles():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "scripts", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_kll_bound_accepts_tied_median_and_rejects_off_rank():
    co = _check_oracles()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "('en', 1), ('en', 5), ('en', 5), ('en', 5), ('en', 9), "
        "('de', 2), ('de', 4)) t(lang, n_chars)")
    cols = ["lang", "q_50", "q_95"]
    # 5 is the exact median that three of five rows share: its rank
    # interval [0.2, 0.8] holds 0.5 (the one-sided P(X <= 5) = 0.8 does not)
    assert co._bounds_kll(None, None, con, [("en", 5, 9)], cols) == []
    problems = co._bounds_kll(
        None, None, con, [("en", 1, 9), ("en", 5, 5), ("de", 2, 2)], cols)
    assert [p.split(":")[0] for p in problems] == ["en/q_50", "en/q_95",
                                                   "de/q_95"]
    con.close()
