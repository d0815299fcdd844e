"""Output checks. Every distinct output an op produced (the harness hashes
each op's output and writes each distinct one once) is compared with DuckDB:
registry keys with their oracle SQL (`SparkEntry.oracleSql`), normalized and
compared exactly as tools/check.py does; the lake ingest tasks with DuckDB's
version of the same transform and with the counts the generator planted.
"""
import os
import sys

import duckdb
import pandas as pd

import lake

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, normalize  # noqa: E402

STAMP = "created_at_datalake"


def compare(got, exp):
    """None when the normalized frames hold the same values, else why not."""
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        bad = got[c].map(repr) != exp[c].map(repr)
        if bad.any():
            i = bad.idxmax()
            return (f"col {c} differs at row {i}: got={got[c][i]!r} want={exp[c][i]!r} "
                    f"({int(bad.sum())} rows differ)")
    return None


class Checker:
    """Holds one DuckDB connection over the data dir and each op's expected
    output, computed once per run."""

    def __init__(self, data_dir, inputs):
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        self.inputs = inputs
        self.expected = {}

    def _expected(self, name, oracle):
        if name not in self.expected:
            if name == "etl.covid":
                self.expected[name] = lake.covid_reference(self.con, self.inputs["csv"])
            elif name == "etl.municipios":
                self.expected[name] = lake.municipios_reference(self.con, self.inputs["json"])
            else:
                self.expected[name] = self.con.sql(oracle[name]).df()
        return self.expected[name]

    def verdicts(self, art):
        """{op name: {output hash: None or the reason that output is wrong}}."""
        out = {}
        for name, by_hash in art["outputs"].items():
            out[name] = {}
            for h, path in by_hash.items():
                try:
                    out[name][h] = self._check(name, pd.read_parquet(path), art["oracle"])
                except Exception as e:  # a check that cannot run confirms nothing
                    out[name][h] = f"{type(e).__name__}: {e}"
        return out

    def _check(self, name, got, oracle):
        if name == "etl.covid":
            zeros = int((got[lake.RATE] == 0).sum())
            want = self.inputs["expected"]["covid_zero_rates"]
            if zeros != want:
                return f"{zeros} zero rates, planted {want}"
        if name.startswith("etl."):
            return compare(got.drop(columns=[STAMP]), self._expected(name, oracle))
        if name not in oracle:
            return "no oracle"
        return compare(got, self._expected(name, oracle))


def op_wrong(op, verdicts, expected):
    """Why a successful op's output is wrong, or None when it checked out."""
    if "check_error" in op:
        return op["check_error"]
    reason = verdicts.get(op["name"], {}).get(op.get("hash"), "output not checked")
    if reason:
        return reason
    if op["name"] == "etl.covid":
        for field in ("rows_loaded", "null_keys"):
            if op.get(field) != expected[f"covid_{field}"]:
                return f"{field} {op.get(field)} != planted {expected[f'covid_{field}']}"
    if op["name"] == "etl.municipios" and op.get("rows") != expected["municipios_rows"]:
        return f"rows {op.get('rows')} != {expected['municipios_rows']}"
    if op.get("stamp_ok") is False:
        return "batch stamp missing or not constant"
    return None
