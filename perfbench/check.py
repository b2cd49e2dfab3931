"""Output checks: every observation the harness prints is compared with the
generator's ground truth (OCDS workloads) or with each query's DuckDB
oracle (pair search). Each function returns a list of mismatch messages;
an empty list means the output is correct."""
import glob
import importlib.util
import json
import math
import os


def _diff(label, got, want):
    return [f"{label}: {k} = {got.get(k)!r}, want {v!r}"
            for k, v in want.items() if got.get(k) != v]


def load_op(obs, truth):
    """One `ocds_load` iteration: load + compileAndFinish + runChecks."""
    return _diff("load", obs, {
        "files": truth["files"], "items": truth["items"], "compiled": truth["compiled"],
        "checked": truth["items"], "check_failures": truth["check_failures"],
        "compile_check_failures": truth["check_failures"]})


def load_store(obs, truth):
    """The dedup store after one `ocds_load` iteration (one batch, so it holds
    each distinct release exactly once)."""
    return _diff("store", obs, {"data_rows": truth["distinct_data"],
                                "distinct_data": truth["distinct_data"]})


def stream_episode(obs, truth):
    """The lake after one `ocds_stream` episode landed every planned file."""
    return _diff("episode", obs, {
        "files": truth["files"], "items": truth["items"],
        "distinct_data": truth["distinct_data"], "checked": truth["items"],
        "check_failures": truth["check_failures"]})


def stream_vs_batch(obs):
    return [f"stream lake differs from a batch load of the same files in {k}"
            for k in ("facts", "checks", "data") if obs.get(k) is not True]


def _parity():
    """The comparison rules of the repository's parity gate."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "parity", os.path.join(root, "tools", "parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pair_queries(work):
    """Each pair-search result the harness wrote, against its oracle SQL run
    in DuckDB over the same tables: columns sorted by name, rows sorted by
    all columns, values compared exactly (floats bitwise)."""
    import duckdb
    parity = _parity()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, 'sf', t + '.parquet')}')")
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no output")
            continue
        want = parity.canon(con, con.sql(sql))
        got = parity.canon(con, con.sql(
            f"SELECT * FROM read_parquet('{os.path.join(work, 'out', name)}/*.parquet')"))
        if list(want.columns) != list(got.columns):
            problems.append(f"{name}: columns {list(got.columns)}, want {list(want.columns)}")
        elif len(want) != len(got):
            problems.append(f"{name}: {len(got)} rows, want {len(want)}")
        else:
            for c in want.columns:
                bad = [(w, g) for w, g in zip(want[c].tolist(), got[c].tolist())
                       if not (w == g or (w is None and g is None) or
                               (isinstance(w, float) and isinstance(g, float)
                                and math.isnan(w) and math.isnan(g)))]
                if bad:
                    problems.append(f"{name}: column {c} differs, e.g. {bad[0][1]!r} want {bad[0][0]!r}")
                    break
    return problems
