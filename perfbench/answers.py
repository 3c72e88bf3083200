"""Reference answers: DuckDB over the same parquet files, fingerprinted with
the rules of `src/Canon.scala` (row count plus a hash of the sorted
canonical rows, columns in name order). Answers DuckDB cannot give (the
engine's own catalog) are stored with the benchmark in `answers.json`,
taken from the program's output as it was when the benchmark was added.
"""
import datetime
import decimal
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
STORED = os.path.join(HERE, "answers.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SIX = decimal.Decimal("0.000001")
CTX = decimal.Context(prec=200)


def _fraction(d):
    r = d.quantize(SIX, rounding=decimal.ROUND_HALF_EVEN, context=CTX)
    return "0.000000" if r == 0 else format(r, "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Infinity" if v > 0 else "-Infinity"
        return _fraction(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _fraction(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return [len(lines), h.digest()[:8].hex()]


class Oracle:
    """DuckDB over one data directory, with a persistent answer cache."""

    def __init__(self, data_dir, cache_path):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self.cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as fh:
                self.cache = json.load(fh)
        self._con = None
        self.dirty = False

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return con

    def answer(self, sql):
        if sql in self.cache:
            return self.cache[sql]
        if self._con is None:
            self._con = self._connect()
        rel = self._con.sql(sql)
        fp = fingerprint(list(rel.columns), rel.fetchall())
        self.cache[sql] = fp
        self.dirty = True
        return fp

    def save(self):
        if self.dirty:
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.cache_path)


def stored():
    if not os.path.exists(STORED):
        return {}
    with open(STORED) as fh:
        return json.load(fh)
