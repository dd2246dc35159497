"""Tests of the benchmark's own generator, model and checker.

    python3 -m pytest perfbench/tests -q

The last test starts a small Spark session and ingests a short feed.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

from check import BAD, FAULT, OK, StoreCheck  # noqa: E402
from gen import Feed, block_json, box_key, is_inner_round  # noqa: E402
from model import Model, gate_inner  # noqa: E402

A, B, C, D, E = (bytes([i]) * 32 for i in range(1, 6))
ESC = b"\xee" * 32


def _feed(seed: int, n: int) -> list[str]:
    f = Feed(seed, 20, 40)
    return [block_json(f.block(r)) for r in range(n)]


def test_generator_is_deterministic_per_seed():
    assert _feed(7, 6) == _feed(7, 6)
    assert _feed(7, 6) != _feed(8, 6)


def test_generator_inner_rounds_follow_the_round_number():
    for seed in (1, 2):
        f = Feed(seed, 20, 40)
        for r in range(8):
            b = f.block(r)
            has_inner = any((t.get("ad") or {}).get("dt") for t in b["payset"])
            assert has_inner == is_inner_round(r) == (r >= 2)
            # the trees never outnumber the plain roots
            assert gate_inner(b) < 0 or r == 0


def _block(rnd, payset=(), accts=(), assets=(), kv=()):
    return {"round": rnd, "timestamp": 1000 + rnd, "rewards_level": 0,
            "txn_counter": 10 * rnd, "payset": list(payset),
            "delta": {"accts": [{"addr": a, "microalgos": m} for a, m in accts],
                      "asset_resources": list(assets), "app_resources": [],
                      "kv_mods": [{"key": k, "value": v} for k, v in kv]}}


def _tiny():
    """Round 1: A pays B; C calls app 9, whose escrow pays D and calls app
    10, which pays A (two levels).  Round 2: B closes to A; C opts into
    asset 5; the box 'x' of app 9 is deleted.  Round 1 wrote the box."""
    inner = {"txn": {"type": "appl", "snd": ESC, "apid": 10},
             "ad": {"dt": {"itx": [{"txn": {"type": "pay", "snd": ESC, "rcv": A, "amt": 1}}]}}}
    r1 = _block(1, [
        {"txid": "T1", "txn": {"type": "pay", "snd": A, "rcv": B, "amt": 5}, "sig": b"s"},
        {"txid": "T2", "txn": {"type": "appl", "snd": C, "apid": 9, "apat": [E]},
         "msig_present": True,
         "ad": {"dt": {"itx": [{"txn": {"type": "pay", "snd": ESC, "rcv": D, "amt": 2}},
                               inner]}}},
    ], accts=[(A, 100), (B, 50), (C, 70), (D, 2)], kv=[(box_key(9, b"x"), b"v")])
    r2 = _block(2, [
        {"txid": "T3", "txn": {"type": "pay", "snd": B, "rcv": A, "amt": 0, "close": A},
         "sig": b"s"},
        {"txid": "T4", "txn": {"type": "axfer", "snd": C, "xaid": 5, "aamt": 0, "arcv": C},
         "sig": b"s"},
    ], accts=[(B, 0), (A, 150)],
        assets=[{"aidx": 5, "addr": C, "holding": {"amount": 0, "frozen": False}}],
        kv=[(box_key(9, b"x"), None)])
    return [_block(0), r1, r2]


def test_model_matches_hand_computed_tiny_feed():
    m = Model([{"addr": A, "microalgos": 10}, {"addr": B, "microalgos": 10}], _tiny())
    rows = [(x["intra"], x["txid"], x["type"], x["extra"]) for x in m.txns[1]]
    assert rows == [
        (0, "T1", "pay", {}),
        (1, "T2", "appl", {}),
        (2, None, "pay", {"root-intra": 1, "root-txid": "T2"}),
        (3, None, "appl", {"root-intra": 1, "root-txid": "T2"}),
        (4, None, "pay", {"root-intra": 1, "root-txid": "T2"}),
    ]
    assert [x["asset"] for x in m.txns[1]] == [0, 9, 0, 10, 0]
    assert {p for p in m.participation if p[1] == 1} == {
        (A, 1, 0), (B, 1, 0), (C, 1, 1), (E, 1, 1), (ESC, 1, 2), (D, 1, 2), (ESC, 1, 3),
        (ESC, 1, 4), (A, 1, 4)}
    assert {p for p in m.participation if p[1] == 2} == {(B, 2, 0), (A, 2, 0), (C, 2, 1)}
    # lineage: B was created at genesis, closed in round 2
    assert m.account[B] == {"created_at": 0, "closed_at": 2, "deleted": True,
                            "microalgos": 0, "keytype": "sig"}
    # C signed with msig in round 1, with sig in round 2: the last wins
    assert m.account[C] == {"created_at": 1, "closed_at": None, "deleted": False,
                            "microalgos": 70, "keytype": "sig"}
    assert m.account[D]["keytype"] is None
    assert m.account_asset[(C, 5)]["created_at"] == 2
    assert m.app_box == {}
    assert m.next_round == 3
    assert m.account_row(B) is None
    assert m.account_row(C)["assets"] == [(5, 0, False, False, 2, None)]


def test_fault_model_drops_inner_rows_only_when_the_gate_is_not_positive():
    blocks = _tiny()
    assert gate_inner(blocks[1]) == 1  # two inner, one root without a list
    m = Model([], blocks, batches=[[0], [1], [2]], drop_inner=True)
    assert len(m.txns[1]) == 5  # the gate is positive: full flatten
    blocks[1]["payset"].append({"txid": "T5", "txn": {"type": "pay", "snd": A, "rcv": B}})
    m = Model([], blocks, batches=[[0], [1], [2]], drop_inner=True)
    assert [(x["intra"], x["txid"]) for x in m.txns[1]] == [(0, "T1"), (1, "T2"), (2, "T5")]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run._setup_env(work)
    from sparkroach.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    run._stop(s)


def test_checker_reports_an_altered_stored_value(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkroach.chain.ingest import ChainDB, blocks_from_json

    feed = Feed(3, 20, 30)
    blocks = [feed.block(r) for r in range(5)]
    src = tmp_path / "blocks.json"
    src.write_text("".join(block_json(b) + "\n" for b in blocks))
    db = ChainDB(spark, str(tmp_path / "store"), n_buckets=4)
    db.add_blocks(blocks_from_json(spark, str(src)))

    good = Model([], blocks)
    faulty = Model([], blocks, [[b["round"] for b in blocks]], drop_inner=True)

    def check(store_dir):
        sc = StoreCheck(good, faulty)
        read = ChainDB(spark, store_dir, n_buckets=4).store.read
        status = sc.blocks(read("txn").collect(), read("txn_participation").collect())
        sc.state({t: read(t).collect() for t in (
            "block_header", "account", "asset", "account_asset", "app", "account_app",
            "app_box")})
        return status, sc.errors

    status, errors = check(str(tmp_path / "store"))
    assert errors == []
    assert {r: s for r, s in status.items()} == {
        r: FAULT if is_inner_round(r) else OK for r in range(1, 5)}

    copy = tmp_path / "copy"
    shutil.copytree(tmp_path / "store", copy)
    for path in glob.glob(str(copy / "account" / "**" / "*.parquet"), recursive=True):
        t = pq.read_table(path)
        col = t.column("microalgos").to_pylist()
        col[0] += 1
        t = t.set_column(t.schema.get_field_index("microalgos"), "microalgos",
                         pa.array(col, t.schema.field("microalgos").type))
        pq.write_table(t, path)
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)  # the local file system would reject the new bytes
    status, errors = check(str(copy))
    assert any(e.startswith("account:") for e in errors)
    assert BAD not in status.values()
