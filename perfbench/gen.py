"""Seeded, mainnet-shaped block feed for the benchmark.

Everything here is plain Python: the generator never imports the program.
A feed is a list of block dicts in the shape of ``sparkroach.chain.schemas
.block_schema`` (bytes for binary fields, ints for uint64 amounts); every
address starts with ``START_BALANCE`` and enters the store when a round's
state delta first writes it.  ``block_json`` renders one block as the JSON line the
``conduit_blocks`` source reads (binary as base64, as Spark's JSON codec
expects).

Shape of the feed (the README lists the figures per workload):

- mostly ``pay``, plus ``axfer``, ``appl`` and ``acfg`` (asset create);
- hot accounts: senders and receivers are drawn from a Zipf-skewed pool;
- asset create, opt-in, transfer and close-out (holding deleted);
- app calls that create, mutate and delete boxes (a null value deletes);
- app opt-in and clear (local state created and deleted);
- account closes (``close`` set, the sender's balance goes to 0);
- round 1 creates the apps; from round 2 on, every round carries one to
  three app calls with inner-transaction trees, the first two levels deep.
  Their direct inner transactions are always fewer than the round's root
  transactions without inner ones, as on mainnet.

The shape of the inner trees depends only on the round number; the seed
picks accounts, amounts, assets and boxes.
"""

from __future__ import annotations

import base64
import hashlib
import json
import random
from dataclasses import dataclass, field

GENESIS_HASH = hashlib.sha256(b"perfbench-genesis").digest()
FEE_SINK = hashlib.sha256(b"perfbench-fee-sink").digest()
REWARDS_POOL = hashlib.sha256(b"perfbench-rewards-pool").digest()
MIN_BALANCE = 100_000
FEE = 1_000
START_BALANCE = 10**12
N_APPS = 4
N_ACCOUNTS = 400  # size of the address pool
ZIPF_S = 1.1  # skew of the address choice


def is_inner_round(rnd: int) -> bool:
    return rnd >= 2


def app_address(app_id: int) -> bytes:
    return hashlib.sha256(b"appID" + app_id.to_bytes(8, "big")).digest()


def box_key(app_id: int, name: bytes) -> bytes:
    return b"bx" + app_id.to_bytes(8, "big") + name


@dataclass
class _State:
    balance: dict = field(default_factory=dict)  # addr -> microalgos
    holdings: dict = field(default_factory=dict)  # (addr, aid) -> amount
    assets: dict = field(default_factory=dict)  # aid -> creator
    opted_apps: set = field(default_factory=set)  # (addr, app)
    boxes: dict = field(default_factory=dict)  # app -> {name: value}
    next_id: int = 1000  # creatable id counter (assets and apps)
    txn_counter: int = 0


class Feed:
    """Deterministic block feed: ``Feed(seed, lo, hi).block(r)`` must be
    called for r = 0, 1, 2, ... in order (state carries across rounds).
    From round 2 on, a round has ``lo`` to ``hi`` root transactions before
    its inner-carrying app calls."""

    def __init__(self, seed: int, txns_min: int, txns_max: int):
        self.txns_min, self.txns_max = txns_min, txns_max
        self.rng = random.Random(seed)
        self.pool = [self.rng.getrandbits(256).to_bytes(32, "big")
                     for _ in range(N_ACCOUNTS)]
        acc, self._cum = 0.0, []
        for i in range(len(self.pool)):
            acc += 1.0 / (i + 1) ** ZIPF_S
            self._cum.append(acc)
        # one signature class per address, so the keytype a sender ends up
        # with does not depend on micro-batch boundaries
        self.msig = {a for a in self.pool if self.rng.random() < 0.1}
        self.st = _State(balance={a: START_BALANCE for a in self.pool})
        self.apps: list[int] = []
        self._txid = 0
        self.next_round = 0

    # -- helpers -----------------------------------------------------------

    def _hot(self) -> bytes:
        return self.rng.choices(self.pool, cum_weights=self._cum)[0]

    def _funded_sender(self) -> bytes:
        for _ in range(50):
            a = self._hot()
            if self.st.balance.get(a, 0) > 10 * MIN_BALANCE:
                return a
        return max(self.pool, key=lambda a: self.st.balance.get(a, 0))

    def _new_txid(self) -> str:
        self._txid += 1
        h = hashlib.sha256(b"txid" + self._txid.to_bytes(8, "big") +
                           self.rng.getrandbits(64).to_bytes(8, "big")).digest()
        return base64.b32encode(h).decode("ascii").rstrip("=")

    def _root(self, snd: bytes, body: dict, ad: dict | None = None) -> dict:
        t = {"txid": self._new_txid(), "txn": {"snd": snd, "fee": FEE, **body}}
        if snd in self.msig:
            t["msig_present"] = True
        else:
            t["sig"] = hashlib.sha512(t["txid"].encode()).digest()
        if ad is not None:
            t["ad"] = ad
        self.st.balance[snd] -= FEE
        return t

    def _pay_amount(self, snd: bytes) -> int:
        spare = self.st.balance[snd] - MIN_BALANCE - 2 * FEE
        return self.rng.randint(1, max(1, min(spare, 5_000_000)))

    # -- transaction kinds -------------------------------------------------

    def _pay(self, touched: list) -> dict:
        snd = self._funded_sender()
        rcv = self._hot()
        while rcv == snd:
            rcv = self.rng.choice(self.pool)
        if self.rng.random() < 0.02:
            # close: everything left goes to the receiver; balance -> 0
            t = self._root(snd, {"type": "pay", "rcv": rcv, "amt": 0, "close": rcv})
            rest = self.st.balance[snd]
            t["ad"] = {"ca": rest}
            self.st.balance[snd] = 0
            self.st.balance[rcv] = self.st.balance.get(rcv, 0) + rest
        else:
            amt = self._pay_amount(snd)
            t = self._root(snd, {"type": "pay", "rcv": rcv, "amt": amt})
            self.st.balance[snd] -= amt
            self.st.balance[rcv] = self.st.balance.get(rcv, 0) + amt
        touched += [snd, rcv]
        return t

    def _acfg(self, touched: list, assets: list) -> dict:
        snd = self._funded_sender()
        aid = self.st.next_id
        self.st.next_id += 1
        total = self.rng.randint(10**6, 10**12)
        name = b"Asset %d" % aid
        t = self._root(snd, {"type": "acfg", "apar": {
            "total": total, "decimals": self.rng.randint(0, 6),
            "unit_name": b"U%d" % (aid % 997), "asset_name": name, "manager": snd,
        }}, {"caid": aid})
        self.st.assets[aid] = snd
        self.st.holdings[(snd, aid)] = total
        touched.append(snd)
        assets.append((aid, snd, "params", total))
        return t

    def _axfer(self, touched: list, assets: list) -> dict | None:
        if not self.st.assets:
            return None
        aid = self.rng.choice(sorted(self.st.assets))
        creator = self.st.assets[aid]
        holders = sorted(a for (a, x) in self.st.holdings if x == aid)
        roll = self.rng.random()
        snd = self._funded_sender()
        if (snd, aid) not in self.st.holdings:
            # opt-in: a zero transfer to oneself
            t = self._root(snd, {"type": "axfer", "xaid": aid, "aamt": 0, "arcv": snd})
            self.st.holdings[(snd, aid)] = 0
            assets.append((aid, snd, "holding", 0))
        elif roll < 0.1 and snd != creator:
            # close-out: the remaining holding goes back to the creator
            amt = self.st.holdings.pop((snd, aid))
            t = self._root(snd, {"type": "axfer", "xaid": aid, "aamt": 0,
                                 "arcv": creator, "aclose": creator},
                           {"aca": amt} if amt else None)
            self.st.holdings[(creator, aid)] = self.st.holdings.get((creator, aid), 0) + amt
            assets.append((aid, snd, "close", 0))
            assets.append((aid, creator, "holding", self.st.holdings[(creator, aid)]))
            touched.append(creator)
        else:
            rcv = self.rng.choice([h for h in holders if h != snd] or [snd])
            have = self.st.holdings[(snd, aid)]
            amt = self.rng.randint(0, have) if have else 0
            t = self._root(snd, {"type": "axfer", "xaid": aid, "aamt": amt, "arcv": rcv})
            self.st.holdings[(snd, aid)] -= amt
            self.st.holdings[(rcv, aid)] += amt
            assets.append((aid, snd, "holding", self.st.holdings[(snd, aid)]))
            assets.append((aid, rcv, "holding", self.st.holdings[(rcv, aid)]))
        touched.append(snd)
        return t

    def _appl(self, touched: list, apps: list, kv: dict) -> dict:
        snd = self._funded_sender()
        app = self.rng.choice(self.apps)
        roll = self.rng.random()
        body = {"type": "appl", "apid": app}
        if roll < 0.08 and (snd, app) not in self.st.opted_apps:
            body["apan"] = 1  # opt-in: local state created
            self.st.opted_apps.add((snd, app))
            apps.append((app, snd, "local", 1))
        elif roll < 0.12 and (snd, app) in self.st.opted_apps:
            body["apan"] = 3  # clear state: local state deleted
            self.st.opted_apps.discard((snd, app))
            apps.append((app, snd, "clear", 0))
        else:
            if self.rng.random() < 0.5:
                body["apat"] = [self._hot() for _ in range(self.rng.randint(1, 2))]
                touched.extend(body["apat"])
            boxes = self.st.boxes.setdefault(app, {})
            name = b"box-%d" % self.rng.randrange(64)
            if name in boxes and self.rng.random() < 0.3:
                del boxes[name]
                kv[box_key(app, name)] = None
            else:
                val = self.rng.getrandbits(8 * 16).to_bytes(16, "big")
                boxes[name] = val
                kv[box_key(app, name)] = val
        touched.append(snd)
        return self._root(snd, body)

    def _inner_tree(self, app: int, touched: list, n_pays: int, nested: int) -> list[dict]:
        """Inner transactions issued by ``app``: ``n_pays`` pays, then, when
        ``nested`` > 0, an inner call to the next app that pays ``nested``
        times itself (a tree two levels deep)."""
        esc = app_address(app)
        out = []
        for _ in range(n_pays):
            rcv = self._hot()
            amt = self.rng.randint(1, 10_000)
            self.st.balance[esc] -= amt + FEE
            self.st.balance[rcv] = self.st.balance.get(rcv, 0) + amt
            touched += [esc, rcv]
            out.append({"txn": {"type": "pay", "snd": esc, "rcv": rcv, "amt": amt, "fee": FEE}})
        if nested:
            other = self.apps[(self.apps.index(app) + 1) % len(self.apps)]
            inner = self._inner_tree(other, touched, nested, 0)
            self.st.balance[esc] -= FEE
            out.append({"txn": {"type": "appl", "snd": esc, "apid": other, "fee": FEE},
                        "ad": {"dt": {"itx": inner}}})
        return out

    # -- blocks ------------------------------------------------------------

    def _round1(self, touched: list, assets: list, apps: list, kv: dict) -> list[dict]:
        """Round 1 creates the apps, funds their escrow accounts, writes a
        box of each app and creates two assets, so that every read has a
        target whatever the seed."""
        payset = []
        for _ in range(N_APPS):
            snd = self._funded_sender()
            app = self.st.next_id
            self.st.next_id += 1
            payset.append(self._root(snd, {"type": "appl", "apid": 0,
                                           "apap": b"\x06\x81\x01", "apsu": b"\x06\x81\x01"},
                                     {"apid": app}))
            self.apps.append(app)
            apps.append((app, snd, "params", 0))
            touched.append(snd)
        for app in self.apps:
            snd = self._funded_sender()
            esc = app_address(app)
            self.st.balance[snd] -= 10**9
            self.st.balance[esc] = 10**9
            payset.append(self._root(snd, {"type": "pay", "rcv": esc, "amt": 10**9}))
            touched += [snd, esc]
        for app in self.apps:
            snd = self._funded_sender()
            val = self.rng.getrandbits(8 * 16).to_bytes(16, "big")
            self.st.boxes[app] = {b"box-0": val}
            kv[box_key(app, b"box-0")] = val
            payset.append(self._root(snd, {"type": "appl", "apid": app}))
            touched.append(snd)
        payset += [self._acfg(touched, assets) for _ in range(2)]
        return payset

    def block(self, rnd: int) -> dict:
        assert rnd == self.next_round, "blocks must be generated in order"
        self.next_round += 1
        touched: list[bytes] = []
        assets: list[tuple] = []  # (aid, addr, kind, amount) in order
        apps: list[tuple] = []  # (app, addr, kind, _)
        kv: dict[bytes, bytes | None] = {}
        payset: list[dict] = []
        if rnd == 1:
            payset = self._round1(touched, assets, apps, kv)
        elif rnd > 1:
            # block sizes follow the round number, so every seed ingests
            # the same amount of work
            n = self.txns_min + (rnd * 37) % (self.txns_max - self.txns_min + 1)
            for _ in range(n):
                roll = self.rng.random()
                if roll < 0.70:
                    t = self._pay(touched)
                elif roll < 0.85:
                    t = self._axfer(touched, assets) or self._pay(touched)
                elif roll < 0.97:
                    t = self._appl(touched, apps, kv)
                else:
                    t = self._acfg(touched, assets)
                payset.append(t)
            if is_inner_round(rnd):
                # 1-3 app calls carrying inner trees; the first is 2 deep.
                # Tree shapes follow the round number, not the seed.
                for k in range(1 + rnd % 3):
                    snd = self._funded_sender()
                    app = self.apps[(rnd + k) % len(self.apps)]
                    itx = self._inner_tree(app, touched, 1 + (rnd + k) % 2,
                                           1 + rnd % 2 if k == 0 else 0)
                    touched.append(snd)
                    t = self._root(snd, {"type": "appl", "apid": app}, {"dt": {"itx": itx}})
                    payset.insert(self.rng.randrange(len(payset) + 1), t)
        self.st.txn_counter += _count_txns(payset)
        seen: dict[bytes, None] = {}
        for a in touched:
            seen.setdefault(a, None)
        accts = [{"addr": a, "microalgos": self.st.balance[a]} for a in seen]
        return {
            "round": rnd,
            "timestamp": 1_700_000_000 + 3 * rnd,
            "genesis_id": "perfbench-v1",
            "genesis_hash": GENESIS_HASH,
            "rewards_level": rnd // 10,
            "txn_counter": self.st.txn_counter,
            "fee_sink": FEE_SINK,
            "rewards_pool": REWARDS_POOL,
            "payset": payset,
            "delta": {
                "accts": accts,
                "asset_resources": _asset_resources(assets, self.st),
                "app_resources": _app_resources(apps),
                "kv_mods": [{"key": k, "value": v} for k, v in kv.items()],
            },
        }


def _count_txns(txns: list[dict]) -> int:
    n = 0
    for t in txns:
        n += 1 + _count_txns(((t.get("ad") or {}).get("dt") or {}).get("itx") or [])
    return n


def _asset_resources(events: list[tuple], st: _State) -> list[dict]:
    """One delta entry per (asset, account), holding its final state."""
    final: dict[tuple, dict] = {}
    for aid, addr, kind, amount in events:
        e = final.setdefault((aid, addr), {"aidx": aid, "addr": addr})
        if kind == "params":
            e["params"] = {"total": amount, "manager": addr,
                           "asset_name": b"Asset %d" % aid, "unit_name": b"U%d" % (aid % 997)}
            e["holding"] = {"amount": st.holdings.get((addr, aid), amount), "frozen": False}
        elif kind == "close":
            e.pop("holding", None)
            e["holding_deleted"] = True
        else:
            e.pop("holding_deleted", None)
            e["holding"] = {"amount": st.holdings.get((addr, aid), amount), "frozen": False}
    return list(final.values())


def _app_resources(events: list[tuple]) -> list[dict]:
    final: dict[tuple, dict] = {}
    for app, addr, kind, _ in events:
        e = final.setdefault((app, addr), {"aidx": app, "addr": addr})
        if kind == "params":
            e["params"] = {"approv": b"\x06\x81\x01", "clearp": b"\x06\x81\x01"}
        elif kind == "local":
            e.pop("state_deleted", None)
            e["local_state"] = {"schema": {"num_uint": 1, "num_byte_slice": 0}}
        else:
            e.pop("local_state", None)
            e["state_deleted"] = True
    return list(final.values())


def _jsonable(v):
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    return v


def block_json(block: dict) -> str:
    """One block as the JSON line the ``conduit_blocks`` source reads."""
    return json.dumps(_jsonable(block), separators=(",", ":"))
