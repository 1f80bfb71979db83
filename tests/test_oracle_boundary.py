"""The production package ships no test oracle and speaks one SQL dialect.

The DuckDB oracles of the operator corpus live in the top-level
``oracles/`` package. This walks every module of ``flink_sql_security_spark``
with ``ast`` and fails on a module that imports ``duckdb``, a function whose
name contains ``duckdb`` or ``oracle``, or a function with a ``dialect``
parameter, unless the allow-list below names it together with the
production caller that keeps it in the package.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "flink_sql_security_spark"

# (module, function) -> the caller outside the oracle sweep that needs it
# here. The four DuckDB mask emitters stay because the benchmark's
# secured_scan check (perfbench/workloads.py) imports them from this
# module. privacy.generalizer_sql, the builder shared by the Spark
# generalizer and its oracle, carries a dialect-neutral name and no
# dialect parameter, so it needs no entry.
ALLOWED = {
    ("functions/masks.py", "duckdb_mask_sql"):
        "perfbench/workloads.py secured_scan mask check",
    ("functions/masks.py", "duckdb_mask_show_first_n_sql"):
        "perfbench/workloads.py secured_scan mask check",
    ("functions/masks.py", "duckdb_mask_show_last_n_sql"):
        "perfbench/workloads.py secured_scan mask check",
    ("functions/masks.py", "duckdb_mask_hash_sql"):
        "perfbench/workloads.py secured_scan mask check",
}


def _violations():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                mods = []
            for mod in mods:
                if mod.split(".")[0] in ("duckdb", "oracles"):
                    found.add((rel, f"import {mod}"))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = node.name.lower()
                params = [a.arg for a in (node.args.posonlyargs
                                          + node.args.args
                                          + node.args.kwonlyargs)]
                if "duckdb" in name or "oracle" in name or "dialect" in params:
                    found.add((rel, node.name))
    return found


def test_package_has_no_oracle_code_outside_the_allow_list():
    found = _violations()
    assert found - set(ALLOWED) == set()


def test_allow_list_has_no_stale_entry():
    assert set(ALLOWED) <= _violations()


def test_oracles_read_only_public_names_of_the_package():
    private = []
    for path in sorted((ROOT / "oracles").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.startswith("flink_sql_security_spark")):
                private += [(path.name, a.name) for a in node.names
                            if a.name.startswith("_")]
    assert private == []
