"""DuckDB oracle compare, the same canonical exact compare as tools/check.py:
columns sorted by name, rows sorted, values bit-exact (NaN equals NaN).

Only the DuckDB side is cached, under the build's source stamp; the Spark
side is read fresh from each run's dump."""
import glob
import math
import os
import pickle

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=lambda t: tuple(str(x) for x in t))


def cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        return False
    return a == b


def compare(spark, duck):
    """None when the canonical forms agree, else the first difference."""
    (s_cols, s_rows), (d_cols, d_rows) = spark, duck
    if s_cols != d_cols:
        return f"cols spark={s_cols} duck={d_cols}"
    if len(s_rows) != len(d_rows):
        return f"rows spark={len(s_rows)} duck={len(d_rows)}"
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if not all(cell_eq(a, b) for a, b in zip(sr, dr)):
            return f"row {i}: spark={sr} duck={dr}"
    return None


def spark_output(dump_dir, name):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no dumped output for {name}")
    t = pq.read_table(files[0])
    return canon(t.column_names, [list(r.values()) for r in t.to_pylist()])


class Oracle:
    """DuckDB results per query, cached as pickles in `cache_dir`."""

    def __init__(self, sf_dir, cache_dir):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.con = None

    def _path(self, name):
        return os.path.join(self.cache_dir, name + ".pkl")

    def missing(self, names):
        return [n for n in names if not os.path.exists(self._path(n))]

    def fill(self, sqls):
        """Run and cache the oracle SQL of each query; an empty SQL or a
        DuckDB error is cached as that error."""
        import duckdb
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        os.makedirs(self.cache_dir, exist_ok=True)
        for name, sql in sqls.items():
            if not sql:
                res = ("error", "no oracle SQL registered")
            else:
                try:
                    d = self.con.execute(sql)
                    res = ("ok", canon([c[0] for c in d.description],
                                       [list(r) for r in d.fetchall()]))
                except Exception as e:  # DuckDB raises many exception types
                    res = ("error", f"duckdb error: {e}")
            with open(self._path(name) + ".tmp", "wb") as f:
                pickle.dump(res, f)
            os.replace(self._path(name) + ".tmp", self._path(name))

    def check(self, dump_dir, name):
        """None when the dumped Spark output equals the oracle's, else why not."""
        with open(self._path(name), "rb") as f:
            status, duck = pickle.load(f)
        if status != "ok":
            return duck
        return compare(spark_output(dump_dir, name), duck)
