"""Output checks, computed with DuckDB straight from the lake's parquet
files — an engine independent of the program under test.

Each check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import json
import os

import duckdb

from gen import HISTORY_TABLES, Expected

# inventory → (keys, COALESCE partial-update columns),
# the trigger semantics of the reference's inventory tables.
LATEST_INVENTORIES = {
    "gateways": (["address"], ["owner", "location", "elevation", "gain"]),
    "validators": (["address"], ["owner", "stake", "last_heartbeat", "status"]),
    "ouis": (["oui"], ["owner", "addresses", "nonce"]),
    "vars": (["name"], ["value"]),
    "oracle_prices": (["public_key"], ["price"]),
}
INVENTORIES = ("accounts", *LATEST_INVENTORIES)
ACCOUNT_ROLES = ("payer", "payee", "owner", "oracle", "sc_opener", "router")


def history_sql(lake: str, table: str) -> str:
    # both layouts: per-batch blockrange=* dirs and compacted buckets
    files = os.path.join(lake, table, "**", "*.parquet")
    return f"read_parquet('{files}', hive_partitioning=false, union_by_name=true)"


def inventory_dir(lake: str, name: str) -> str | None:
    base = os.path.join(lake, f"{name}_inventory")
    try:
        with open(os.path.join(base, "_current.json")) as f:
            v = int(json.load(f)["version"])
    except (OSError, ValueError, KeyError):
        return None
    return os.path.join(base, f"v={v}")


def inventory_sql(lake: str, name: str) -> str:
    return f"read_parquet('{inventory_dir(lake, name)}/*.parquet', hive_partitioning=false)"


def _recompute_sql(lake: str, name: str, columns: list[str]) -> tuple[str, list[str]]:
    """Batch recompute of an inventory over the whole ingested history."""
    if name == "accounts":
        roles = ", ".join(f"'{r}'" for r in ACCOUNT_ROLES)
        cols = ["address", "first_block", "last_block", "n_txns", "roles"]
        return (
            f"""SELECT actor AS address, min(block) AS first_block, max(block) AS last_block,
                       count(DISTINCT transaction_hash) AS n_txns,
                       array_to_string(list_sort(list_distinct(list(actor_role))), ',') AS roles
                FROM {history_sql(lake, 'transaction_actors')}
                WHERE actor_role IN ({roles}) GROUP BY actor""",
            cols,
        )
    keys, coalesce_cols = LATEST_INVENTORIES[name]
    latest = [c for c in ("block", "hash", "time") if c in columns]
    sel = [*keys, "min(block) AS first_block", "max(block) AS last_block"]
    sel += [f"list({c} ORDER BY block, hash)[-1] AS {c}" for c in latest]
    sel += [
        f"list({c} ORDER BY block, hash) FILTER (WHERE {c} IS NOT NULL)[-1] AS {c}"
        for c in coalesce_cols
    ]
    cols = [*keys, "first_block", "last_block", *latest, *coalesce_cols]
    sql = f"SELECT {', '.join(sel)} FROM {history_sql(lake, name)} GROUP BY {', '.join(keys)}"
    return sql, cols


def check_lake(lake: str, exp: Expected, sync_height: int, stats: list[dict]) -> list[str]:
    """Tip height, history row counts, every transaction_actors row, every
    inventory against its batch recompute, and ``stats`` (the program's
    ``stats_inventory`` rows) against the inventories' row counts."""
    import pyarrow as pa

    errs = []
    con = duckdb.connect()
    try:
        if sync_height != exp.tip:
            errs.append(f"sync height {sync_height} != tip {exp.tip}")
        top = con.execute(f"SELECT max(block) FROM {history_sql(lake, 'transactions')}").fetchone()[0]
        if top != exp.tip:
            errs.append(f"transactions reach block {top}, tip is {exp.tip}")
        for t in HISTORY_TABLES:
            n = con.execute(f"SELECT count(*) FROM {history_sql(lake, t)}").fetchone()[0]
            if n != exp.rows[t]:
                errs.append(f"{t}: {n} rows, generator made {exp.rows[t]}")
        want = pa.Table.from_pylist(
            [dict(zip(("actor", "actor_role", "transaction_hash", "block"), r)) for r in exp.actor_rows]
        )
        con.register("expected_actors", want)
        c = "actor, actor_role, transaction_hash, block"
        got = history_sql(lake, "transaction_actors")
        diff = con.execute(
            f"""SELECT (SELECT count(*) FROM (SELECT {c} FROM {got} EXCEPT ALL SELECT {c} FROM expected_actors)),
                       (SELECT count(*) FROM (SELECT {c} FROM expected_actors EXCEPT ALL SELECT {c} FROM {got}))"""
        ).fetchone()
        if diff != (0, 0):
            errs.append(f"transaction_actors differs from the generator: {diff[0]} extra, {diff[1]} missing rows")
        counts = {}
        for name in INVENTORIES:
            if inventory_dir(lake, name) is None:
                errs.append(f"{name}_inventory missing")
                continue
            inv = inventory_sql(lake, name)
            counts[f"{name}_inventory"] = con.execute(f"SELECT count(*) FROM {inv}").fetchone()[0]
            columns = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {inv}").fetchall()]
            rec, cols = _recompute_sql(lake, name, columns)
            c = ", ".join(cols)
            diff = con.execute(
                f"""SELECT (SELECT count(*) FROM (SELECT {c} FROM {inv} EXCEPT ALL SELECT {c} FROM ({rec}))),
                           (SELECT count(*) FROM (SELECT {c} FROM ({rec}) EXCEPT ALL SELECT {c} FROM {inv}))"""
            ).fetchone()
            if diff != (0, 0):
                errs.append(f"{name}_inventory differs from recompute: {diff[0]} extra, {diff[1]} missing rows")
        got_stats = {r["name"]: r["value"] for r in stats}
        if got_stats != counts:
            errs.append(f"stats_inventory {got_stats} != inventory row counts {counts}")
    finally:
        con.close()
    return errs


# -- api_reads answers ---------------------------------------------------

def _rows(con, sql: str, params=()) -> list[dict]:
    cur = con.execute(sql, list(params))
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def _key(row: dict) -> tuple:
    return tuple(sorted((k, json.dumps(v, sort_keys=True, default=str)) for k, v in row.items()))


def _same(got: list[dict], want: list[dict]) -> bool:
    return sorted(map(_key, got)) == sorted(map(_key, want))


def _activity_payload_ok(row: dict, original: str) -> bool:
    """The actor's view of one payload: entries of other actors removed
    from rewards / state-channel summaries / payee lists, the consensus
    proof stripped, every other payload passed through unchanged."""
    actor, t = row["actor"], row["type"]
    src, got = json.loads(original), json.loads(row["fields"])
    if t == "rewards_v1":
        keep = [r for r in src["rewards"] if actor in (r["account"], r["gateway"])]
        return [(r["account"], r.get("gateway"), r["amount"]) for r in got["rewards"]] == [
            (r["account"], r["gateway"], r["amount"]) for r in keep
        ]
    if t == "state_channel_close_v1":
        keep = [s for s in src["state_channel"]["summaries"] if actor in (s["owner"], s["client"])]
        return got["state_channel"]["summaries"] == keep
    if t == "payment_v2" and src["payer"] != actor:
        return got["payments"] == [p for p in src["payments"] if p["payee"] == actor]
    if t == "consensus_group_v1":
        return "proof" not in got and got["members"] == src["members"]
    return row["fields"] == original


def check_answers(lake: str, answers: list) -> list[str]:
    """Every api_reads answer against DuckDB over the same lake files."""
    con = duckdb.connect()
    bad = []
    try:
        for name in ("transactions", "transaction_actors", "rewards"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {history_sql(lake, name)}")
        con.execute(f"CREATE VIEW gateway_inventory AS SELECT * EXCLUDE (hash, time) FROM {inventory_sql(lake, 'gateways')}")
        stats = [
            {"name": f"{n}_inventory", "value": con.execute(f"SELECT count(*) FROM {inventory_sql(lake, n)}").fetchone()[0]}
            for n in INVENTORIES
        ]
        for req, got in answers:
            kind = req["kind"]
            if kind == "stats":
                ok = _same(got, stats)
            elif kind == "lookup":
                ok = _same(got, _rows(con, "SELECT * FROM gateway_inventory WHERE address = ?", [req["gateway"]]))
            elif kind == "rewards":
                want = _rows(
                    con,
                    "SELECT block, transaction_hash, gateway, amount, type FROM rewards "
                    "WHERE account = ? AND block BETWEEN ? AND ?",
                    [req["account"], req["lo"], req["hi"]],
                )
                ok = _same(got, want)
            elif kind == "sql":
                want = _rows(
                    con,
                    "SELECT type, count(*) AS n FROM transactions WHERE block BETWEEN ? AND ? GROUP BY type",
                    [req["lo"], req["hi"]],
                )
                ok = _same(got, want)
            else:
                want = _rows(
                    con,
                    "SELECT a.actor, a.actor_role, t.block, t.time, a.transaction_hash, t.type, t.fields "
                    "FROM transaction_actors a JOIN transactions t ON a.transaction_hash = t.hash "
                    "WHERE a.actor = ?",
                    [req["account"]],
                )
                strip = lambda rows: [{k: v for k, v in r.items() if k != "fields"} for r in rows]  # noqa: E731
                ok = _same(strip(got), strip(want))
                if ok:
                    originals = {(r["transaction_hash"], r["actor_role"]): r["fields"] for r in want}
                    ok = all(
                        _activity_payload_ok(r, originals[(r["transaction_hash"], r["actor_role"])]) for r in got
                    )
            if not ok:
                bad.append(f"{kind} request {req} answered wrongly")
    finally:
        con.close()
    return bad
