"""Compare what the program stored and returned with the independent model.

Every comparison has three outcomes:

- ``ok``: the output equals the model;
- ``fault``: the output equals the model of the known inner-transaction
  fault (``Model(..., drop_inner=True)``) and not the correct model.  The
  operation is counted as failed;
- ``bad``: anything else.  The run reports ``correct: false``.
"""

from __future__ import annotations

import json
from collections import defaultdict

from model import Model, b64, extra_obj

OK, FAULT, BAD = "ok", "fault", "bad"


def _txn_key(row: dict) -> tuple:
    """A model ``txn`` row reduced to what the checks compare."""
    return (row["round"], row["intra"], row["typeenum"], row["asset"], row["txid"],
            json.dumps(row["extra"], sort_keys=True), row["type"], b64(row["snd"]),
            int(row["amt"]))


def stored_txn_key(r) -> tuple:
    """A stored ``txn`` row (any Row with the table's columns) reduced the
    same way; type, sender and amount are read from the stored document."""
    doc = json.loads(r["txn"])["txn"]
    amt = doc.get("amt") or doc.get("aamt") or 0
    return (r["round"], r["intra"], r["typeenum"], r["asset"], r["txid"],
            json.dumps(extra_obj(r["extra"]), sort_keys=True), doc.get("type"),
            doc.get("snd"), int(amt))


def classify(got, want_ok, want_fault) -> str:
    if got == want_ok:
        return OK
    if got == want_fault:
        return FAULT
    return BAD


class StoreCheck:
    """Checks a whole store against the model, block by block for the
    transaction tables and key by key for the state tables."""

    def __init__(self, good: Model, faulty: Model):
        self.good, self.faulty = good, faulty
        self.errors: list[str] = []

    def _err(self, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(msg)

    def blocks(self, txn_rows, part_rows) -> dict[int, str]:
        """Status of each round from the stored txn and participation rows."""
        txn_by = defaultdict(list)
        for r in txn_rows:
            txn_by[r["round"]].append(stored_txn_key(r))
        part_by = defaultdict(set)
        for r in part_rows:
            part_by[r["round"]].add((bytes(r["addr"]), r["round"], r["intra"]))
        want_part = {}
        for name, m in (("ok", self.good), ("fault", self.faulty)):
            d = defaultdict(set)
            for p in m.participation:
                d[p[1]].add(p)
            want_part[name] = d
        status = {}
        for rnd in sorted(self.good.blocks):
            if rnd == 0:
                continue
            got_t = sorted(txn_by.pop(rnd, []))
            t = classify(got_t, [_txn_key(x) for x in self.good.txns[rnd]],
                         [_txn_key(x) for x in self.faulty.txns[rnd]])
            got_p = part_by.pop(rnd, set())
            p = classify(got_p, want_part["ok"][rnd], want_part["fault"][rnd])
            status[rnd] = t if t == p else BAD
            if status[rnd] == BAD:
                self._err(f"round {rnd}: txn {t}, participation {p}")
        for rnd in sorted(set(txn_by) | set(part_by)):
            self._err(f"rows stored for unknown round {rnd}")
            status[rnd] = BAD
        return status

    def state(self, tables: dict[str, list]) -> None:
        """State tables, block headers and metastate must equal the model
        exactly; the inner-transaction fault does not touch them."""
        g = self.good
        self._cmp("block_header",
                  {r["round"]: (int(r["realtime"].timestamp()), r["rewardslevel"])
                   for r in tables["block_header"]}, g.headers)
        self._cmp("account",
                  {bytes(r["addr"]): (int(r["microalgos"]), r["deleted"], r["created_at"],
                                      r["closed_at"], r["keytype"])
                   for r in tables["account"]},
                  {a: (v["microalgos"], v["deleted"], v["created_at"], v["closed_at"],
                       v["keytype"]) for a, v in g.account.items()})
        self._cmp("asset",
                  {r["id"]: (bytes(r["creator_addr"]), r["deleted"], r["created_at"],
                             r["closed_at"]) for r in tables["asset"]},
                  {k: (v["creator"], v["deleted"], v["created_at"], v["closed_at"])
                   for k, v in g.asset.items()})
        self._cmp("account_asset",
                  {(bytes(r["addr"]), r["assetid"]): (int(r["amount"]), r["frozen"],
                                                      r["deleted"], r["created_at"],
                                                      r["closed_at"])
                   for r in tables["account_asset"]},
                  {k: (v["amount"], v["frozen"], v["deleted"], v["created_at"], v["closed_at"])
                   for k, v in g.account_asset.items()})
        self._cmp("app",
                  {r["id"]: (bytes(r["creator"]), r["deleted"], r["created_at"], r["closed_at"])
                   for r in tables["app"]},
                  {k: (v["creator"], v["deleted"], v["created_at"], v["closed_at"])
                   for k, v in g.app.items()})
        self._cmp("account_app",
                  {(bytes(r["addr"]), r["app"]): (r["deleted"], r["created_at"], r["closed_at"])
                   for r in tables["account_app"]},
                  {k: (v["deleted"], v["created_at"], v["closed_at"])
                   for k, v in g.account_app.items()})
        self._cmp("app_box",
                  {(r["app"], bytes(r["name"])): bytes(r["value"]) for r in tables["app_box"]},
                  g.app_box)

    def _cmp(self, table: str, got: dict, want: dict) -> None:
        if got == want:
            return
        missing = sorted(set(want) - set(got), key=repr)[:3]
        extra = sorted(set(got) - set(want), key=repr)[:3]
        diff = [k for k in want if k in got and got[k] != want[k]][:3]
        self._err(f"{table}: {len(got)} rows, model {len(want)}; missing {missing}, "
                  f"unexpected {extra}, differing "
                  f"{[(k, got[k], want[k]) for k in diff]}")


# -- the six Indexer reads ------------------------------------------------


def read_result(kind: str, rows) -> object:
    """A read's collected rows reduced to what the checks compare.  Order
    is kept: transaction results must come in ascending (round, intra)."""
    if kind in ("get_block", "txns_by_address", "txns_by_round"):
        return [stored_txn_key(r) for r in rows]
    if kind == "account":
        return [(bytes(r["addr"]), int(r["microalgos"]), r["created_at"], r["closed_at"],
                 r["keytype"],
                 None if r["assets"] is None else
                 [(a["assetid"], int(a["amount"]), a["frozen"], a["deleted"], a["created_at"],
                   a["closed_at"]) for a in r["assets"]])
                for r in rows]
    if kind == "asset_balances":
        return [(bytes(r["addr"]), int(r["amount"]), r["frozen"]) for r in rows]
    if kind == "app_boxes":
        return [(bytes(r["name"]), bytes(r["value"])) for r in rows]
    raise ValueError(kind)


def read_expected(m: Model, kind: str, arg: tuple) -> object:
    if kind == "get_block":
        return [_txn_key(x) for x in m.txn_rows(arg[0], arg[0])]
    if kind == "txns_by_address":
        return [_txn_key(x) for x in m.txn_rows(arg[1], arg[2], address=arg[0])]
    if kind == "txns_by_round":
        return [_txn_key(x) for x in m.txn_rows(arg[0], arg[1])]
    if kind == "account":
        a = m.account_row(arg[0])
        if a is None:
            return []
        return [(a["addr"], a["microalgos"], a["created_at"], a["closed_at"], a["keytype"],
                 None if a["assets"] is None else [tuple(x) for x in a["assets"]])]
    if kind == "asset_balances":
        return m.asset_balances(arg[0])
    if kind == "app_boxes":
        return m.app_boxes(arg[0])
    raise ValueError(kind)
