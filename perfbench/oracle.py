"""DuckDB oracle check for the benchmark.

Every query of a workload carries DuckDB SQL that must return exactly what
the engine returned. The rules are those of the repository's correctness
checker, tools/check_correctness.py, whose value normalisation is reused:
columns sorted by name, values normalised, rows compared in order, and
pandas dtype kinds (integer vs float) must agree.

Expected results are cached under the build directory, keyed by the SQL
text and the content of the data files, so repeated runs skip DuckDB.
"""
import glob
import hashlib
import importlib.util
import os
import pickle
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "check_correctness",
    Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py")
_checker = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_checker)
norm = _checker.norm
TABLES = _checker.TABLES


def _kinds(df):
    num = {"i": "n", "u": "n", "f": "f"}
    return {c: num.get(df[c].dtype.kind, df[c].dtype.kind) for c in df.columns}


def _canon(cols, rows, kinds):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {"cols": [cols[i] for i in order],
            "rows": [tuple(norm(r[i]) for i in order) for r in rows],
            "kinds": kinds}


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.is_file():
            h.update(t.encode())
            h.update(p.read_bytes())
    return h.hexdigest()


class Oracle:
    def __init__(self, data_dir, cache_dir):
        self.data_dir = str(Path(data_dir).resolve())
        self.cache_dir = Path(cache_dir)
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        # a change to the checker's normalisation invalidates the cache too
        self.digest = data_digest(self.data_dir) + hashlib.sha256(
            Path(_spec.origin).read_bytes()).hexdigest()
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.isfile(p):
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def expected(self, sql):
        key = hashlib.sha256((self.digest + "\0" + sql).encode()).hexdigest()
        path = self.cache_dir / f"{key}.pkl"
        if path.is_file():
            return pickle.loads(path.read_bytes())
        df = self._connect().execute(sql).df()
        cols = list(df.columns)
        rows = self._connect().execute(sql).fetchall()
        res = _canon(cols, rows, _kinds(df))
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_bytes(pickle.dumps(res))
        tmp.replace(path)
        return res


def actual(result_dir):
    """The engine's output as written after the timed passes, or None."""
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None
    t = pq.read_table(files[0])
    cols = list(t.column_names)
    rows = list(zip(*[t.column(c).to_pylist() for c in cols])) if cols else []
    return _canon(cols, rows, _kinds(t.to_pandas()))


def compare(got, want):
    """None when equal, else a one-line reason."""
    if got is None:
        return "no engine output"
    if got["cols"] != want["cols"]:
        return f"columns differ: {got['cols']} vs {want['cols']}"
    for c in got["cols"]:
        a, b = got["kinds"].get(c), want["kinds"].get(c)
        if a != b and "O" not in (a, b):
            return f"dtype kind differs on {c}: {a} vs {b}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count {len(got['rows'])} vs {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if a != b:
            diffs = [(c, x, y) for c, x, y in zip(got["cols"], a, b) if x != y]
            return f"first diff at row {i}: {diffs[:3]}"
    return None
