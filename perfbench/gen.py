"""Seeded block-archive generator for the benchmark.

The program under test only ever sees the files this module writes:
``blocks_<lo>_<hi>.jsonl`` archives in the follower feed format the
``blockfiles`` source reads (one block per line; each txn carries its
payload as a JSON string in ``fields``), or transaction parquet chunks in
the ``transactions`` schema the CLI ``ingest`` command streams.

Knobs (``Shape``): txns per block, blocks per archive, key-space sizes and
a Helium-like transaction-type mix over the 20 txn types whose payload
shapes the repo's test fixtures use. While generating, ``Expected`` tallies
the rows each history table must hold, and every transaction_actors row,
straight from the payloads by the reference's rules — an account of the
input independent of the program's derivation code.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

# Type weights per 1000 txns, from the transactions fixture spec in the
# repository's FIXTURES.md: poc receipts 40% (split evenly between v1 and
# v2), payment_v2 15%, validator_heartbeat_v1 10%, state_channel_close_v1,
# assert_location_v2 and add_gateway_v1 5% each, and the remaining 20%
# "sprinkled", here spread evenly over the other 12 types. rewards_v1 is
# not drawn from the mix: FIXTURES.md puts one per ~15 blocks, so every
# REWARDS_EVERY-th block carries one (see ``rewards_txn``).
_SPRINKLED = (
    "subnetwork_rewards_v1",
    "transfer_hotspot_v1",
    "price_oracle_v1",
    "token_burn_v1",
    "security_exchange_v1",
    "consensus_group_v1",
    "stake_validator_v1",
    "unstake_validator_v1",
    "transfer_validator_stake_v1",
    "oui_v1",
    "routing_v1",
    "vars_v1",
)
HELIUM_MIX = {
    "poc_receipts_v1": 200,
    "poc_receipts_v2": 200,
    "payment_v2": 150,
    "validator_heartbeat_v1": 100,
    "state_channel_close_v1": 50,
    "assert_location_v2": 50,
    "add_gateway_v1": 50,
    **{t: 200 / len(_SPRINKLED) for t in _SPRINKLED},
}
REWARDS_EVERY = 15

HISTORY_TABLES = (
    "transactions",
    "transaction_actors",
    "rewards",
    "packets",
    "dc_burns",
    "oracle_prices",
    "gateways",
    "validators",
    "ouis",
    "vars",
)

# payload types that pay a fee burn: fee + staking_fee, one dc_burns row
# when positive (the reference's be_db_dc_burn)
FEE_TYPES = ("add_gateway_v1", "assert_location_v2", "oui_v1", "payment_v2")

T0 = 1_600_000_000


@dataclass(frozen=True)
class Shape:
    txns_per_block: tuple[int, int]  # inclusive range
    blocks_per_archive: int
    n_accounts: int
    n_gateways: int
    n_validators: int = 64
    n_ouis: int = 16
    n_oracles: int = 8
    mix: dict = field(default_factory=lambda: dict(HELIUM_MIX))


def _each(items: list[dict], key: str) -> list:
    return [x.get(key) for x in items]


def _gateway_actors(f: dict) -> list:
    return [("gateway", [f["gateway"]]), ("owner", [f["owner"]]), ("payer", [f.get("payer") or f["owner"]])]


def _poc_actors(f: dict) -> list:
    return [
        ("challengee", _each(f["path"], "challengee")),
        ("witness", [w["gateway"] for p in f["path"] for w in p["witnesses"]]),
        ("challenger", [f["challenger"]]),
    ]


# type -> (payload -> [(role, [actor, ...])]): the reference's per-type
# rules (be_db_txn_actor:to_actors) for the types this generator writes
ACTOR_RULES = {
    "payment_v2": lambda f: [("payer", [f["payer"]]), ("payee", _each(f["payments"], "payee"))],
    "poc_receipts_v1": _poc_actors,
    "poc_receipts_v2": lambda f: [*_poc_actors(f), ("validator", [f["challenger"]])],
    "rewards_v1": lambda f: [("payee", _each(f["rewards"], "account")),
                             ("reward_gateway", _each(f["rewards"], "gateway"))],
    "state_channel_close_v1": lambda f: [
        ("sc_closer", [f["closer"]]),
        ("payee", [f["closer"]]),
        ("owner", [f["state_channel"]["owner"]]),
        ("packet_receiver", _each(f["state_channel"]["summaries"], "client")),
    ],
    "add_gateway_v1": _gateway_actors,
    "assert_location_v2": _gateway_actors,
    "transfer_hotspot_v1": lambda f: [("gateway", [f["gateway"]]), ("payee", [f["seller"]]),
                                      ("payer", [f["buyer"]]), ("owner", [f["buyer"]])],
    "validator_heartbeat_v1": lambda f: [("validator", [f["address"]])],
    "price_oracle_v1": lambda f: [("oracle", [f["public_key"]])],
    "token_burn_v1": lambda f: [("payer", [f["payer"]]), ("payee", [f["payee"]])],
    "security_exchange_v1": lambda f: [("payer", [f["payer"]]), ("payee", [f["payee"]])],
    "consensus_group_v1": lambda f: [("consensus_member", f["members"])],
    "stake_validator_v1": lambda f: [("validator", [f["validator"]]), ("payer", [f["owner"]]),
                                     ("owner", [f["owner"]])],
    "unstake_validator_v1": lambda f: [("validator", [f["address"]]), ("payee", [f["owner"]]),
                                       ("owner", [f["owner"]])],
    "transfer_validator_stake_v1": lambda f: [
        ("validator", [f["old_validator"], f["new_validator"]]),
        ("payer", [f["new_owner"]]),
        ("payee", [f["old_owner"]]),
        ("owner", [f["new_owner"] or f["old_owner"], f["old_owner"]]),
    ],
    "oui_v1": lambda f: [("owner", [f["owner"]]), ("payer", [f["payer"]]), ("router", f["addresses"])],
    "routing_v1": lambda f: [("owner", [f["owner"]]), ("payer", [f["owner"]]),
                             ("router", f["action"].get("addresses", []))],
    "vars_v1": lambda f: [],
    "subnetwork_rewards_v1": lambda f: [("payee", _each(f["rewards"], "reward_account"))],
}


def actors(ttype: str, f: dict) -> set[tuple[str, str]]:
    """The distinct (role, actor) pairs of one payload; empty and missing
    actors are skipped."""
    return {(role, a) for role, xs in ACTOR_RULES[ttype](f) for a in xs if a}


def history_rows(ttype: str, f: dict) -> dict[str, int]:
    """Rows one payload adds to each derived history table."""
    n = dict.fromkeys(HISTORY_TABLES, 0)
    n["transactions"] = 1
    n["transaction_actors"] = len(actors(ttype, f))
    if ttype == "rewards_v1":
        n["rewards"] = len(f["rewards"])
    elif ttype == "state_channel_close_v1":
        summaries = f["state_channel"]["summaries"]
        n["packets"] = len({s["client"] for s in summaries})
        n["dc_burns"] = sum(1 for s in summaries if s["num_dcs"] > 0)
    elif ttype in ("add_gateway_v1", "assert_location_v2", "transfer_hotspot_v1"):
        n["gateways"] = 1
    elif ttype in ("validator_heartbeat_v1", "stake_validator_v1", "unstake_validator_v1"):
        n["validators"] = 1
    elif ttype in ("oui_v1", "routing_v1"):
        n["ouis"] = 1
    elif ttype == "price_oracle_v1":
        n["oracle_prices"] = 1
    elif ttype == "vars_v1":
        n["vars"] = len(f["vars"])
    if ttype in FEE_TYPES:
        n["dc_burns"] = int(f.get("fee", 0) + f.get("staking_fee", 0) > 0)
    elif ttype == "token_burn_v1":
        n["dc_burns"] = int(f["amount"] > 0)
    return n


@dataclass
class Expected:
    """What the lake must hold after ingesting everything generated."""

    tip: int = 0
    input_bytes: int = 0
    rows: dict = field(default_factory=lambda: dict.fromkeys(HISTORY_TABLES, 0))
    # every transaction_actors row: (actor, actor_role, transaction_hash, block)
    actor_rows: list = field(default_factory=list)


class Generator:
    def __init__(self, seed: int, shape: Shape):
        self.rng = random.Random(seed)
        self.shape = shape
        self.expected = Expected()
        self.reward_accounts: list[str] = []  # accounts with rewards rows
        self._types = list(shape.mix)
        self._weights = [shape.mix[t] for t in self._types]
        self._owner: dict[str, str] = {}  # gateway -> owner
        # (gateway, reward type) earned since the last rewards_v1
        self._epoch: dict[tuple[str, str], None] = {}

    # -- keys ---------------------------------------------------------
    def acct(self) -> str:
        return f"acc{self.rng.randrange(self.shape.n_accounts):07d}"

    def gw(self) -> str:
        return f"gw{self.rng.randrange(self.shape.n_gateways):07d}"

    def val(self) -> str:
        return f"val{self.rng.randrange(self.shape.n_validators):05d}"

    def loc(self) -> str:
        return f"8c{self.rng.randrange(16**6):06x}"

    def earn(self, gateway: str, reward_type: str) -> None:
        self._epoch[(gateway, reward_type)] = None

    # -- payloads -----------------------------------------------------
    def payload(self, ttype: str, h: int) -> dict:
        r = self.rng
        if ttype == "payment_v2":
            return {
                "payer": self.acct(),
                "payments": [
                    {"payee": self.acct(), "amount": r.randrange(1, 10**6)}
                    for _ in range(r.randrange(1, 4))
                ],
                "fee": r.randrange(0, 40000),
                "nonce": r.randrange(1, 10**6),
            }
        if ttype in ("poc_receipts_v1", "poc_receipts_v2"):
            path = [
                {
                    "challengee": self.gw(),
                    "witnesses": [{"gateway": self.gw()} for _ in range(r.randrange(0, 6))],
                }
                for _ in range(r.randrange(1, 3))
            ]
            for p in path:
                self.earn(p["challengee"], "poc_challengees")
                for w in p["witnesses"]:
                    self.earn(w["gateway"], "poc_witnesses")
            return {"challenger": self.gw(), "path": path}
        if ttype == "state_channel_close_v1":
            summaries = [
                {
                    "client": self.gw(),
                    "owner": self.acct(),
                    "num_packets": r.randrange(1, 1000),
                    "num_dcs": r.randrange(1, 500),
                    "location": self.loc(),
                }
                for _ in range(r.randrange(1, 5))
            ]
            for s in summaries:
                self.earn(s["client"], "dc_rewards")
            return {"closer": self.acct(), "state_channel": {"owner": self.acct(), "summaries": summaries}}
        if ttype == "add_gateway_v1":
            f = {"gateway": self.gw(), "owner": self.acct(), "staking_fee": 4_000_000, "fee": 65_000}
            if r.random() < 0.5:
                f["payer"] = self.acct() if r.random() < 0.7 else ""
            self._owner[f["gateway"]] = f["owner"]
            return f
        if ttype == "assert_location_v2":
            return {
                "gateway": self.gw(),
                "owner": self.acct(),
                "payer": self.acct() if r.random() < 0.5 else "",
                "location": self.loc(),
                "elevation": r.randrange(0, 200),
                "gain": r.randrange(10, 90),
                "staking_fee": 1_000_000,
            }
        if ttype == "transfer_hotspot_v1":
            f = {
                "gateway": self.gw(),
                "seller": self.acct(),
                "buyer": self.acct(),
                "amount_to_seller": r.randrange(0, 10**6),
            }
            self._owner[f["gateway"]] = f["buyer"]
            return f
        if ttype == "validator_heartbeat_v1":
            return {"address": self.val(), "height": h, "version": 10}
        if ttype == "consensus_group_v1":
            return {
                "members": [self.val() for _ in range(r.randrange(4, 8))],
                "proof": "p" * 32,
                "height": h,
                "delay": 0,
            }
        if ttype == "oui_v1":
            return {
                "owner": self.acct(),
                "payer": self.acct(),
                "oui": r.randrange(1, self.shape.n_ouis),
                "addresses": [self.acct() for _ in range(r.randrange(1, 3))],
                "staking_fee": 10_000_000,
                "fee": 30_000,
            }
        if ttype == "token_burn_v1":
            return {"payer": self.acct(), "payee": self.acct(), "amount": r.randrange(1, 10**6)}
        if ttype == "price_oracle_v1":
            return {
                "public_key": f"orc{r.randrange(self.shape.n_oracles)}",
                "price": r.randrange(10**8, 2 * 10**8),
                "block_height": h,
            }
        if ttype == "vars_v1":
            names = r.sample(["poc_version", "sc_version", "dc_payload_size", "election_interval"], r.randrange(1, 4))
            return {"vars": {n: str(r.randrange(1, 100)) for n in names}, "nonce": r.randrange(100)}
        if ttype == "routing_v1":
            action = r.choice(["update_routers", "update_routers", "new_xor", "update_xor", "request_subnet"])
            if action == "update_routers":
                act = {"action": action, "addresses": [self.acct() for _ in range(r.randrange(1, 3))]}
            elif action == "request_subnet":
                act = {"action": action, "requested_subnet_size": 8}
            else:
                act = {"action": action, "filter": f"xf{r.randrange(100):02d}"}
            return {
                "owner": self.acct(),
                "oui": r.randrange(1, self.shape.n_ouis),
                "action": act,
                "fee": r.randrange(0, 40000),
                "nonce": r.randrange(100),
            }
        if ttype == "security_exchange_v1":
            return {"payer": self.acct(), "payee": self.acct(), "amount": r.randrange(1, 10**6)}
        if ttype == "stake_validator_v1":
            return {"validator": self.val(), "owner": self.acct(), "stake": 10**10}
        if ttype == "unstake_validator_v1":
            return {"address": self.val(), "owner": self.acct(), "stake_amount": 10**10}
        if ttype == "transfer_validator_stake_v1":
            return {
                "old_validator": self.val(),
                "new_validator": self.val(),
                "old_owner": self.acct(),
                "new_owner": self.acct() if r.random() < 0.7 else "",
                "stake_amount": 10**10,
            }
        if ttype == "subnetwork_rewards_v1":
            return {
                "rewards": [
                    {"reward_account": self.acct(), "amount": r.randrange(1, 10**5)}
                    for _ in range(r.randrange(1, 4))
                ],
                "token_type": "mobile",
            }
        raise ValueError(f"no payload shape for {ttype}")

    def rewards_txn(self, h: int) -> dict:
        """The epoch's rewards_v1: one reward per (gateway, reward type)
        earned by the poc receipts and state-channel closes since the last
        one, paid to the gateway's owner."""
        rewards = [
            {"account": self._owner.get(g) or self.acct(), "gateway": g,
             "amount": self.rng.randrange(1, 10**5), "type": t}
            for g, t in self._epoch
        ]
        self._epoch.clear()
        self.reward_accounts += [x["account"] for x in rewards]
        return {"rewards": rewards, "start_epoch": max(1, h - REWARDS_EVERY), "end_epoch": h}

    def _txn(self, h: int, i: int, ttype: str, fields: dict) -> dict:
        txn_hash = f"{self.rng.getrandbits(64):016x}{h:08x}{i:04x}"
        for table, n in history_rows(ttype, fields).items():
            self.expected.rows[table] += n
        self.expected.actor_rows += [(a, role, txn_hash, h) for role, a in actors(ttype, fields)]
        return {"hash": txn_hash, "type": ttype, "fields": json.dumps(fields)}

    def _block(self, txns: list[dict]) -> dict:
        h = self.expected.tip + 1
        self.expected.tip = h
        return {"height": h, "block_hash": f"bh{h:09d}", "time": T0 + 60 * h, "txns": txns}

    # -- blocks -------------------------------------------------------
    def genesis(self, per_block: int = 2000) -> list[dict]:
        """Blocks that bring every gateway and account of the key space into
        the inventories: one add_gateway_v1 per gateway, one payment_v2 per
        four accounts, plus stakes, OUIs, vars and oracle prices."""
        s = self.shape
        txns: list[tuple[str, dict]] = []
        for g in range(s.n_gateways):
            gw, owner = f"gw{g:07d}", self.acct()
            self._owner[gw] = owner
            txns.append(("add_gateway_v1", {"gateway": gw, "owner": owner, "staking_fee": 4_000_000, "fee": 65_000}))
        for a in range(0, s.n_accounts, 4):
            txns.append(("payment_v2", {
                "payer": self.acct(),
                "payments": [{"payee": f"acc{b:07d}", "amount": 1} for b in range(a, min(a + 4, s.n_accounts))],
                "fee": 0,
                "nonce": a,
            }))
        for v in range(s.n_validators):
            txns.append(("stake_validator_v1", {"validator": f"val{v:05d}", "owner": self.acct(), "stake": 10**10}))
        for o in range(1, s.n_ouis):
            txns.append(("oui_v1", {
                "owner": self.acct(), "payer": self.acct(), "oui": o,
                "addresses": [self.acct()], "staking_fee": 10_000_000, "fee": 30_000,
            }))
        for t in ("vars_v1", "price_oracle_v1"):
            for _ in range(4):
                txns.append((t, self.payload(t, self.expected.tip + 1)))
        blocks = []
        for lo in range(0, len(txns), per_block):
            h = self.expected.tip + 1
            chunk = [self._txn(h, i, t, f) for i, (t, f) in enumerate(txns[lo : lo + per_block])]
            blocks.append(self._block(chunk))
        return blocks

    def blocks(self, n: int) -> list[dict]:
        lo, hi = self.shape.txns_per_block
        out = []
        for _ in range(n):
            h = self.expected.tip + 1
            types = self.rng.choices(self._types, self._weights, k=self.rng.randint(lo, hi))
            txns = [(t, self.payload(t, h)) for t in types]
            if h % REWARDS_EVERY == 0:
                txns.append(("rewards_v1", self.rewards_txn(h)))
            out.append(self._block([self._txn(h, i, t, f) for i, (t, f) in enumerate(txns)]))
        return out

    def archive(self) -> list[dict]:
        return self.blocks(self.shape.blocks_per_archive)

    def write(self, out_dir: str, blocks: list[dict]) -> str:
        """Land ``blocks`` as one archive: write aside, then rename, so the
        stream never sees a half-written file."""
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"blocks_{blocks[0]['height']}_{blocks[-1]['height']}.jsonl")
        data = "".join(json.dumps(b) + "\n" for b in blocks)
        with open(path + ".tmp", "w") as f:
            f.write(data)
        os.replace(path + ".tmp", path)
        self.expected.input_bytes += len(data.encode())
        return path

    def write_parquet(self, out_dir: str, blocks: list[dict]) -> str:
        """Land ``blocks`` as one transaction parquet chunk."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        rows = [
            {"block": b["height"], "hash": t["hash"], "time": b["time"], "type": t["type"], "fields": t["fields"]}
            for b in blocks
            for t in b["txns"]
        ]
        schema = pa.schema([("block", pa.int64()), ("hash", pa.string()), ("time", pa.int64()),
                            ("type", pa.string()), ("fields", pa.string())])
        path = os.path.join(out_dir, f"txns_{blocks[0]['height']}_{blocks[-1]['height']}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema), path + ".tmp")
        os.replace(path + ".tmp", path)
        self.expected.input_bytes += os.path.getsize(path)
        return path
