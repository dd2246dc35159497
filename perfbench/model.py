"""Independent model of the nine Indexer tables and the six timed reads.

Built in plain Python from the generator's block dicts; it imports nothing
from ``sparkroach``.  The semantics are those of the reference indexer's
writer (writer.go, write_txn.go, write_txn_participation.go):

- transactions are flattened in preorder, inner transactions included;
  ``intra`` is the preorder rank within the round, inner rows carry no txid
  and point at their root in ``extra``;
- participation roles depend on the transaction type;
- state tables are last-writer-wins per key with ``created_at`` (first
  round the key was written), ``closed_at`` (last delete round) and
  ``deleted`` (last write was a delete); an account is deleted when its
  balance goes to 0, a box when its value is null (and then it is gone);
- ``keytype`` comes from the sender's last root transaction.

``Model(..., drop_inner=True)`` predicts the store as the inner-transaction
fault leaves it (see README): a micro-batch in which no round has more
direct inner transactions than root transactions without an inner list is
flattened one level deep, so its inner rows are missing and ``intra`` is the
payset position.
"""

from __future__ import annotations

import base64
import json

TYPE_ENUM = {"pay": 1, "keyreg": 2, "acfg": 3, "axfer": 4, "afrz": 5, "appl": 6, "stpf": 7}
ROLES = {
    "pay": ("rcv", "close"),
    "axfer": ("asnd", "arcv", "aclose"),
    "afrz": ("fadd",),
}


def b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def _itx(t: dict) -> list | None:
    return ((t.get("ad") or {}).get("dt") or {}).get("itx")


def gate_inner(block: dict) -> int:
    """The inner-transaction count the ingest gate computes for a block:
    direct inner transactions of its roots, minus one for each root whose
    inner list is absent (``size(NULL)`` is -1 with ANSI mode off)."""
    n = 0
    for t in block["payset"]:
        itx = _itx(t)
        n += -1 if itx is None else len(itx)
    return n


def _nz(v):
    return v if v else None


def _asset_col(t: dict, intra: int, block: dict) -> int:
    body, ad = t["txn"], t.get("ad") or {}
    typ = body["type"]
    counter = block["txn_counter"] - len(block["payset"]) + intra + 1
    if typ == "appl":
        return _nz(body.get("apid")) or _nz(ad.get("apid")) or counter
    if typ == "acfg":
        return _nz(body.get("caid")) or _nz(ad.get("caid")) or counter
    if typ == "axfer":
        return body.get("xaid") or 0
    if typ == "afrz":
        return body.get("faid") or 0
    return 0


def flatten(block: dict, depth1: bool = False) -> list[dict]:
    """The block's ``txn`` rows (plus the fields the checks compare), in
    intra order."""
    rows: list[dict] = []

    def visit(t: dict, root: dict | None) -> None:
        intra = len(rows)
        body = t["txn"]
        row = {
            "round": block["round"],
            "intra": intra,
            "typeenum": TYPE_ENUM[body["type"]],
            "asset": _asset_col(t, intra, block),
            "txid": t.get("txid") if root is None else None,
            "type": body["type"],
            "snd": body["snd"],
            "amt": body.get("amt") or body.get("aamt") or 0,
            "participants": _participants(body),
        }
        if root is None:
            aca = (t.get("ad") or {}).get("aca")
            row["extra"] = {"aca": aca} if aca else {}
            row["root_intra"] = intra
        else:
            row["extra"] = {"root-intra": root["intra"], "root-txid": root["txid"]}
            row["root_intra"] = root["intra"]
        rows.append(row)
        if not depth1:
            for child in _itx(t) or []:
                visit(child, row if root is None else root)

    for t in block["payset"]:
        visit(t, None)
    return rows


def _participants(body: dict) -> list[bytes]:
    cand = [body["snd"]]
    if body["type"] == "appl":
        cand += body.get("apat") or []
    else:
        cand += [body.get(f) for f in ROLES.get(body["type"], ())]
    out: list[bytes] = []
    for a in cand:
        if a and a not in out:
            out.append(a)
    return out


class _Lineage:
    """Last-writer-wins state with created_at / closed_at / deleted."""

    def __init__(self):
        self.rows: dict = {}

    def write(self, key, rnd: int, delete: bool, **vals) -> None:
        row = self.rows.get(key)
        if row is None:
            row = self.rows[key] = {"created_at": rnd, "closed_at": None}
        row["deleted"] = delete
        if delete:
            row["closed_at"] = rnd
        row.update(vals)


class Model:
    def __init__(self, genesis: list[dict], blocks: list[dict],
                 batches: list[list[int]] | None = None, drop_inner: bool = False):
        """``batches`` lists the rounds of each ingest micro-batch (only
        needed with ``drop_inner``; default: one block per batch)."""
        self.blocks = {b["round"]: b for b in blocks}
        batches = batches or [[r] for r in sorted(self.blocks)]
        depth1 = set()
        if drop_inner:
            for batch in batches:
                if all(gate_inner(self.blocks[r]) <= 0 for r in batch):
                    depth1.update(batch)
        self.txns: dict[int, list[dict]] = {}
        for r, b in self.blocks.items():
            self.txns[r] = [] if r == 0 else flatten(b, depth1=r in depth1)
        self.participation = {
            (a, row["round"], row["intra"])
            for rows in self.txns.values() for row in rows for a in row["participants"]
        }
        self.headers = {r: (b["timestamp"], b["rewards_level"]) for r, b in self.blocks.items()}
        self.next_round = max(self.blocks) + 1
        self._state(genesis)

    def _state(self, genesis: list[dict]) -> None:
        acct = _Lineage()
        for a in genesis:
            acct.write(a["addr"], 0, False, microalgos=a["microalgos"], keytype=None)
        asset, holding, app, local = _Lineage(), _Lineage(), _Lineage(), _Lineage()
        boxes: dict = {}
        for r in sorted(self.blocks):
            if r == 0:
                continue
            b = self.blocks[r]
            for a in b["delta"]["accts"]:
                m = a["microalgos"]
                prev = acct.rows.get(a["addr"], {}).get("keytype")
                acct.write(a["addr"], r, m == 0, microalgos=m, keytype=prev)
            for t in b["payset"]:
                snd = t["txn"]["snd"]
                if snd in acct.rows:
                    acct.rows[snd]["keytype"] = "sig" if t.get("sig") else (
                        "msig" if t.get("msig_present") else acct.rows[snd]["keytype"])
            for e in b["delta"]["asset_resources"]:
                if e.get("params") is not None or e.get("params_deleted"):
                    asset.write(e["aidx"], r, bool(e.get("params_deleted")), creator=e["addr"])
                if e.get("holding") is not None or e.get("holding_deleted"):
                    key = (e["addr"], e["aidx"])
                    if e.get("holding_deleted"):
                        frozen = holding.rows.get(key, {}).get("frozen", False)
                        holding.write(key, r, True, amount=0, frozen=frozen)
                    else:
                        h = e["holding"]
                        holding.write(key, r, False, amount=h["amount"],
                                      frozen=bool(h.get("frozen")))
            for e in b["delta"]["app_resources"]:
                if e.get("params") is not None or e.get("params_deleted"):
                    app.write(e["aidx"], r, bool(e.get("params_deleted")), creator=e["addr"])
                if e.get("local_state") is not None or e.get("state_deleted"):
                    local.write((e["addr"], e["aidx"]), r, bool(e.get("state_deleted")))
            for kv in b["delta"]["kv_mods"]:
                k = kv["key"]
                key = (int.from_bytes(k[2:10], "big"), k[10:])
                if kv["value"] is None:
                    boxes.pop(key, None)
                else:
                    boxes[key] = kv["value"]
        self.account, self.asset, self.account_asset = acct.rows, asset.rows, holding.rows
        self.app, self.account_app, self.app_box = app.rows, local.rows, boxes

    # -- expected read results -------------------------------------------

    def txn_rows(self, lo: int, hi: int, address: bytes | None = None) -> list[dict]:
        out = []
        for r in range(max(lo, 0), hi + 1):
            for row in self.txns.get(r, []):
                if address is None or (address, r, row["intra"]) in self.participation:
                    out.append(row)
        return out

    def account_row(self, addr: bytes) -> dict | None:
        a = self.account.get(addr)
        if a is None or a["deleted"]:
            return None
        assets = sorted(
            (aid, h["amount"], h["frozen"], h["deleted"], h["created_at"], h["closed_at"])
            for (ad, aid), h in self.account_asset.items() if ad == addr and not h["deleted"]
        )
        return {**a, "addr": addr, "assets": assets or None}

    def asset_balances(self, aid: int) -> list[tuple]:
        return sorted(
            (ad, h["amount"], h["frozen"])
            for (ad, a), h in self.account_asset.items() if a == aid and not h["deleted"]
        )

    def app_boxes(self, app: int) -> list[tuple]:
        return sorted((name, v) for (a, name), v in self.app_box.items() if a == app)


def extra_obj(s: str | None) -> dict | None:
    return None if s is None else json.loads(s)
