"""Seeded op plans for the three workloads, and the reference model that
checks every catalog-dml read.

A plan is a list of rounds; the JVM runs a fixed number of whole rounds,
capped by the measured window. Every round of a workload has the same
make-up, so runs of different seeds measure comparable work.
"""
from __future__ import annotations

import hashlib
import itertools
import random

CATALOG = "bench_cat"
ROUNDS = 400
BULK_QUERIES = ("q01_pricing_summary", "q02_filter_pushdown", "q04_shuffle_join_agg")
WRITE_COLUMNS = ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")
READBACK_AGGS = (
    "count(*) AS n",
    "sum(l_orderkey) AS sum_key",
    "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty",
    "sum(CAST(l_extendedprice AS DECIMAL(22,2))) AS sum_price",
)
TABLES = (
    {"name": "cow", "props": ""},
    {"name": "mor", "props": "TBLPROPERTIES ('graft.write.mode'='merge-on-read', 'graft.merge-keys'='k')"},
)
COLUMNS = ("k", "cust", "status", "cents", "prio")
SEED_ROWS = 3000


def strata(pool: list[dict], size: int) -> list[list[str]]:
    """Split the pool, ordered by measured cost, into strata of `size`
    queries (the last takes the remainder)."""
    ranked = [q["name"] for q in sorted(pool, key=lambda q: (q["ms"], q["name"]))]
    k = max(1, len(ranked) // size)
    return [ranked[i * size:(i + 1) * size] if i < k - 1 else ranked[i * size:] for i in range(k)]


def mix_queries(pool: list[dict], stratum_size: int) -> list[str]:
    """The median-cost query of every cost stratum of the pool."""
    return [g[len(g) // 2] for g in strata(pool, stratum_size)]


def query_mix(picked: list[str], corpus: str, seed: int, trace: bool) -> list[list[dict]]:
    """Each round runs the mix queries in seeded order: the same queries every
    run, so that runs of different seeds differ only in order. A traced plan
    runs every round twice, once traced and once not, so the tracing overhead
    can be paired query by query."""
    rng = random.Random(seed)
    ids = itertools.count(1)
    rounds = []
    for r in range(ROUNDS):
        names = list(picked)
        rng.shuffle(names)
        passes = [True, False] if r % 2 == 0 else [False, True]
        for traced in (passes if trace else [True]):
            rounds.append([{"id": next(ids), "name": n, "kind": "read", "type": "query", "dir": corpus,
                            "traced": traced} for n in names])
    return rounds


def bulk_scan(corpus: str, seed: int, trace: bool) -> list[list[dict]]:
    """Each round runs the row-bound queries and one bulk write in seeded
    order; the read-back aggregate follows the write."""
    rng = random.Random(seed)
    ids = itertools.count(1)
    rounds = []
    for r in range(ROUNDS):
        names = list(BULK_QUERIES) + ["write"]
        rng.shuffle(names)
        traced = not trace or r % 2 == 0
        ops = []
        for n in names:
            if n == "write":
                ops.append({"id": next(ids), "name": "write_lineitem", "kind": "commit", "type": "write",
                            "src": f"{corpus}/lineitem.parquet", "columns": list(WRITE_COLUMNS), "traced": traced})
                ops.append({"id": next(ids), "name": "readback_agg", "kind": "read", "type": "readback",
                            "aggs": list(READBACK_AGGS), "traced": traced})
            else:
                ops.append({"id": next(ids), "name": n, "kind": "read", "type": "query", "dir": corpus, "traced": traced})
        rounds.append(ops)
    return rounds


# ---------------------------------------------------------------- catalog-dml

def seed_rows(orders) -> dict[int, tuple]:
    """The first SEED_ROWS orders as table rows keyed by k."""
    cols = orders.slice(0, SEED_ROWS).to_pydict()
    return {
        k: (c, s, int(round(p * 100)), pr)
        for k, c, s, p, pr in zip(cols["o_orderkey"], cols["o_custkey"], cols["o_orderstatus"],
                                  cols["o_totalprice"], cols["o_orderpriority"])
    }


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(v)


def _values(rows: dict[int, tuple]) -> str:
    return ", ".join("(" + ", ".join(_lit(x) for x in (k,) + v) + ")" for k, v in sorted(rows.items()))


class Model:
    """Independent model of a staging table: live rows by key, and a
    snapshot after every committed statement."""

    def __init__(self, rows: dict[int, tuple]):
        self.rows = dict(rows)
        self.snapshots = {0: dict(rows)}

    def apply(self, stmt: dict) -> int:
        """Apply a statement; returns the number of rows it touched."""
        kind, rows = stmt["op"], self.rows
        touched = 0
        if kind == "insert":
            for k, v in stmt["rows"].items():
                rows[k] = v
            touched = len(stmt["rows"])
        elif kind == "delete_keys":
            touched = sum(1 for k in stmt["keys"] if rows.pop(k, None) is not None)
        elif kind == "delete_range":
            for k in [k for k in rows if stmt["lo"] <= k <= stmt["hi"]]:
                del rows[k]
                touched += 1
        elif kind == "update":
            for k, (c, s, cents, p) in list(rows.items()):
                if stmt["lo"] <= k <= stmt["hi"]:
                    rows[k] = (c, "U", cents + stmt["delta"], p)
                    touched += 1
        elif kind == "merge":
            for k, v in stmt["rows"].items():
                rows[k] = v
            touched = len(stmt["rows"])
        self.snapshots[stmt["stmt"]] = dict(rows)
        return touched

    @staticmethod
    def digest(rows: dict[int, tuple]) -> str:
        lines = sorted("|".join(str(x) for x in (k,) + v) for k, v in rows.items())
        return hashlib.sha256("".join(l + "\n" for l in lines).encode()).hexdigest()


WRITES = ("insert", "delete_keys", "delete_range", "update", "merge")
READS = ("read", "read", "read", "read", "read_version", "read_version")
BLOCK = WRITES + READS + ("optimize",)


def statements(seed: int, initial: dict[int, tuple], blocks: int) -> list[list[dict]]:
    """A seeded stream of small-batch statements over a model of the table
    (the model picks keys that exist, so every statement does work). Every
    block runs the WRITES in seeded order, then the READS in seeded order, then
    an OPTIMIZE: reads always meet a table five commits past its last OPTIMIZE,
    so runs of different seeds do comparable work."""
    rng = random.Random(seed)
    model = Model(initial)
    next_key = 10_000_000
    out, stmt = [], 0
    for _ in range(blocks):
        writes, reads = list(WRITES), list(READS)
        rng.shuffle(writes)
        rng.shuffle(reads)
        block, before = [], stmt
        for kind in writes + reads + ["optimize"]:
            live = sorted(model.rows)
            s = {"op": kind}
            if kind == "insert":
                s["rows"] = {}
                for _ in range(10):
                    s["rows"][next_key] = (rng.randrange(15000), rng.choice("FOP"), rng.randrange(100_000, 50_000_000),
                                           rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]))
                    next_key += 1
            elif kind == "delete_keys":
                s["keys"] = rng.sample(live, 4)
            elif kind == "delete_range":
                s["lo"] = rng.choice(live)
                s["hi"] = s["lo"] + 6
            elif kind == "update":
                s["lo"] = rng.choice(live)
                s["hi"] = s["lo"] + 25
                s["delta"] = rng.randrange(1, 500)
            elif kind == "merge":
                s["rows"] = {k: (rng.randrange(15000), "M", rng.randrange(100_000, 50_000_000), "4-NOT SPECIFIED")
                             for k in rng.sample(live, 5)}
                for _ in range(3):
                    s["rows"][next_key] = (rng.randrange(15000), "M", rng.randrange(100_000, 50_000_000), "5-LOW")
                    next_key += 1
            elif kind == "read_version":
                s["of"] = before  # the table as the previous block's OPTIMIZE left it
            if not kind.startswith("read"):
                stmt += 1
                s["stmt"] = stmt
                model.apply(s)
            block.append(s)
        out.append(block)
    return out


def sql_for(s: dict, table: str) -> str:
    t = f"{CATALOG}.ws.{table}"
    cols = ", ".join(COLUMNS)
    op = s["op"]
    if op == "insert":
        return f"INSERT INTO {t} VALUES {_values(s['rows'])}"
    if op == "delete_keys":
        return f"DELETE FROM {t} WHERE k IN ({', '.join(str(k) for k in s['keys'])})"
    if op == "delete_range":
        return f"DELETE FROM {t} WHERE k BETWEEN {s['lo']} AND {s['hi']}"
    if op == "update":
        return f"UPDATE {t} SET cents = cents + {s['delta']}, status = 'U' WHERE k BETWEEN {s['lo']} AND {s['hi']}"
    if op == "merge":
        return (f"MERGE INTO {t} USING (SELECT CAST(k AS BIGINT) AS k, CAST(cust AS BIGINT) AS cust, status, "
                f"CAST(cents AS BIGINT) AS cents, prio FROM VALUES {_values(s['rows'])} AS s({cols})) s "
                f"ON {t}.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    if op == "read":
        return f"SELECT {cols} FROM {t}"
    if op == "read_version":
        return f"SELECT {cols} FROM {t} VERSION AS OF {{v:{s['of']}}}"
    raise ValueError(op)


def catalog_dml(blocks: list[list[dict]], trace: bool) -> list[list[dict]]:
    """Each round is one block of statements, each sent to both tables;
    commits are `kind: commit`, reads `kind: read`. Op ids follow the
    flattened statement order, two per statement."""
    ids = itertools.count(1)
    rounds = []
    for i, block in enumerate(blocks):
        traced = not trace or i % 2 == 0
        ops = []
        for s in block:
            for t in TABLES:
                op = {"id": next(ids), "name": f"{s['op']}.{t['name']}", "table": t["name"], "traced": traced,
                      "kind": "read" if s["op"].startswith("read") else "commit"}
                if s["op"] == "optimize":
                    op["type"] = "optimize"
                else:
                    op["type"] = "sql"
                    op["sql"] = sql_for(s, t["name"])
                if "stmt" in s:
                    op["stmt"] = s["stmt"]
                ops.append(op)
        rounds.append(ops)
    return rounds
