"""Independent answers for every op, computed after the timers stop.

Registry ops are compared with ``Query.oracle`` run on DuckDB over the
same input files, normalized the way ``tests/test_oracle_parity.py``
does it: columns sorted by name, each value rendered with its type,
rows sorted, strict equality. Oracle answers are cached on disk keyed by
a hash of the input files and the SQL, since the slowest take seconds.

Pipeline ops are checked on the parquet they wrote: bronze row counts
against DuckDB over the CSVs, silver row counts against DuckDB over
bronze, the silver and gold invariants of ``tests/test_pipeline.py``,
and gold identical across passes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def normalize(cols: list[str], rows) -> tuple[list[str], list[list[str]]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted([_canon(r[i]) for i in order] for r in rows)
    return [cols[i] for i in order], out


def digest(cols: list[str], rows: list[list[str]]) -> str:
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def files_digest(root: str) -> str:
    """Content hash of every file under ``root`` (names relative)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _duck(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    return con


class Oracle:
    """DuckDB answers for registry queries over one input directory."""

    def __init__(self, sf_dir: str, tables: list[str], inputs_digest: str, cache_dir: str,
                 threads: int):
        self.sf_dir = sf_dir
        self.tables = tables
        self.inputs_digest = inputs_digest
        self.cache_dir = cache_dir
        self.threads = threads
        self._con = None

    def answer(self, sql: str) -> dict:
        """``{"cols", "rows", "digest"}`` of the normalized oracle result."""
        key = hashlib.sha256(f"{self.inputs_digest}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                return json.load(fh)
        if self._con is None:
            self._con = _duck(self.threads)
            for t in self.tables:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        cur = self._con.execute(sql)
        cols, rows = normalize([d[0] for d in cur.description], cur.fetchall())
        ans = {"cols": cols, "rows": rows, "digest": digest(cols, rows)}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(ans, fh)
        os.replace(tmp, path)
        return ans

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def first_difference(got: dict, want: dict) -> str:
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != oracle {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != oracle {len(want['rows'])}"
    for a, b in zip(got["rows"], want["rows"]):
        if a != b:
            return f"row {a} != oracle {b}"
    return "digest differs"


# -- pipeline checks ---------------------------------------------------------


def _initcap(s: str) -> str:
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" "))


_SILVER_ZERO = {
    "order_items": (
        "SELECT count(*) FROM (SELECT Ord_ID FROM t GROUP BY 1 HAVING count(*) > 1)",
        "SELECT count(*) FROM t WHERE Prod_ID IS NULL OR Ord_ID IS NULL",
        "SELECT count(*) FROM t WHERE Ord_Item_ID != 1",
    ),
    "order_payments": (
        "SELECT count(*) FROM t WHERE Payment_Type = 'not_defined'",
        "SELECT count(*) FROM (SELECT Ord_ID FROM t GROUP BY 1 HAVING count(*) > 1)",
    ),
    "order_reviews": (
        "SELECT count(*) FROM t WHERE length(Rev_ID) != 32",
        "SELECT count(*) FROM t WHERE NOT Rev_Score BETWEEN 1 AND 5",
        "SELECT count(*) FROM t WHERE Rev_Comment_Message IS NULL OR Rev_Comment_Title IS NULL",
        "SELECT count(*) FROM t WHERE regexp_matches(Rev_Comment_Message, '[^a-zA-Z0-9\\s.,!?]')",
        "SELECT count(*) FROM t WHERE NOT regexp_matches(CAST(Rev_Creation_Date AS VARCHAR),"
        " '^\\d{4}-\\d{2}-\\d{2}')",
    ),
}


# Rows each silver table must hold, computed from its bronze table ``b``
# without the engine: the pass-through tables keep every row, the three
# order tables keep one row per order (the smallest by their dedup order,
# Spark's ascending order with nulls first) that then passes the filters.
_RANK = "row_number() OVER (PARTITION BY order_id ORDER BY {} NULLS FIRST) AS rn"
_SILVER_ROWS = {
    "order_items": "SELECT count(*) FROM (SELECT order_id FROM b GROUP BY 1)",
    "order_payments": (
        "SELECT count(*) FROM (SELECT payment_type, "
        + _RANK.format("payment_sequential NULLS FIRST, payment_type NULLS FIRST, payment_value")
        + " FROM b) WHERE rn = 1 AND payment_type != 'not_defined'"
    ),
    "order_reviews": (
        "SELECT count(*) FROM (SELECT *, " + _RANK.format("review_id") + " FROM b)"
        " WHERE rn = 1 AND length(review_id) = 32 AND review_score BETWEEN 1 AND 5"
        " AND NOT regexp_matches(review_comment_message, '[^a-zA-Z0-9\\s.,!?]')"
        " AND NOT regexp_matches(review_comment_title, '[^a-zA-Z0-9\\s.,!?]')"
        " AND regexp_matches(review_creation_date, '^\\d{4}-\\d{2}-\\d{2}')"
    ),
}

# The gold invariants of ``tests/test_pipeline.py``: each query counts
# the rows that break one, over the gold table ``t``.
_GOLD_ZERO = {
    "dim_time": (
        "SELECT abs(count(*) - 24) FROM t",
        "SELECT count(*) FROM t WHERE Time_SK = 0"
        " AND (Hour_12 != 12 OR AM_PM != 'AM' OR Time_Display != '12:00 AM')",
    ),
    "dim_geography": (
        "SELECT count(*) FROM (SELECT Zip_Code FROM t GROUP BY 1 HAVING count(*) > 1)",
    ),
    "fact_sales": (
        "SELECT count(*) FROM t WHERE Quantity != 1",
    ),
    "fact_orders": (
        "SELECT count(*) FROM t WHERE (Approved_Timestamp IS NULL) != (Approval_Days IS NULL)",
        "SELECT count(*) FROM t WHERE Order_Items_Count IS NULL",
    ),
}


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _count(con, sql: str) -> int:
    return con.execute(sql).fetchone()[0]


def _view(con, name: str, path: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {_parquet(path)}")


def check_warehouse(csv_dir: str, wh: str, threads: int) -> dict[str, list[str]]:
    """Problems found in one pass's warehouse, keyed by the op that wrote
    the faulty layer (empty lists when all checks hold)."""
    problems: dict[str, list[str]] = {"pipeline.bronze": [], "pipeline.silver": [],
                                      "pipeline.gold": []}
    con = _duck(threads)
    try:
        for fname in sorted(os.listdir(csv_dir)):
            name = fname.removesuffix(".csv")
            want = _count(con, f"SELECT count(*) FROM read_csv('{csv_dir}/{fname}', header = true,"
                               " all_varchar = true)")
            got = _count(con, f"SELECT count(*) FROM {_parquet(f'{wh}/bronze/{name}')}")
            if got != want:
                problems["pipeline.bronze"].append(f"bronze {name}: {got} rows, csv has {want}")
        silver = problems["pipeline.silver"]
        for table in sorted(os.listdir(f"{wh}/silver")):
            _view(con, "b", f"{wh}/bronze/{table}")
            _view(con, "t", f"{wh}/silver/{table}")
            want = _count(con, _SILVER_ROWS.get(table, "SELECT count(*) FROM b"))
            got = _count(con, "SELECT count(*) FROM t")
            if got != want or got == 0:
                silver.append(f"silver {table}: {got} rows, {want} expected from bronze")
            for sql in _SILVER_ZERO.get(table, ()):
                n = _count(con, sql)
                if n:
                    silver.append(f"silver {table}: {n} rows violate: {sql}")
        _view(con, "t", f"{wh}/silver/customers")
        cols = [d[0] for d in con.execute("SELECT * FROM t LIMIT 0").description]
        if "customer_state" not in cols:
            silver.append("silver customers: customer_state missing")
        cities = [r[0] for r in con.execute("SELECT DISTINCT Cus_City FROM t").fetchall()]
        bad = [c for c in cities if c is not None and c != _initcap(c)]
        if bad:
            silver.append(f"silver customers: not initcap: {bad[:3]}")
        gold = problems["pipeline.gold"]
        for table in sorted(os.listdir(f"{wh}/gold")):
            _view(con, "t", f"{wh}/gold/{table}")
            if not _count(con, "SELECT count(*) FROM t"):
                gold.append(f"gold {table}: empty")
            for sql in _GOLD_ZERO.get(table, ()):
                n = _count(con, sql)
                if n:
                    gold.append(f"gold {table}: {n} rows violate: {sql}")
        # dim_date spans the silver order dates, one row a day, keyed yyyymmdd
        _view(con, "o", f"{wh}/silver/orders")
        _view(con, "t", f"{wh}/gold/dim_date")
        mn, mx = con.execute("SELECT min(CAST(Ord_Purchase_Time AS DATE)),"
                             " max(CAST(Ord_Purchase_Time AS DATE)) FROM o").fetchone()
        days, first = con.execute("SELECT count(*), min(Date) FROM t").fetchone()
        sk = con.execute(f"SELECT Date_SK FROM t WHERE Date = DATE '{mn}'").fetchall()
        if (days, first, sk) != ((mx - mn).days + 1, mn, [(int(mn.strftime("%Y%m%d")),)]):
            gold.append(f"gold dim_date: {days} days from {first} with key {sk},"
                        f" silver orders span {mn}..{mx}")
    finally:
        con.close()
    return problems


# Audit column stamped with the load time; legitimately differs per run.
_GOLD_VOLATILE = ("Load_Timestamp",)


def gold_digest(wh: str, threads: int) -> str:
    """Order-insensitive content hash of every gold table, load-time
    audit column excluded."""
    con = _duck(threads)
    try:
        h = hashlib.sha256()
        gold = f"{wh}/gold"
        for table in sorted(os.listdir(gold)):
            src = _parquet(f"{gold}/{table}")
            cols = [d[0] for d in con.execute(f"SELECT * FROM {src} LIMIT 0").description]
            keep = ", ".join(f'"{c}"' for c in cols if c not in _GOLD_VOLATILE)
            cur = con.execute(f"SELECT {keep} FROM {src}")
            cols, rows = normalize([d[0] for d in cur.description], cur.fetchall())
            h.update(f"{table}\0{digest(cols, rows)}".encode())
        return h.hexdigest()
    finally:
        con.close()
