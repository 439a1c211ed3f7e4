#!/usr/bin/env python3
"""Seeded generator of the committed golden-shaped test chain (fixtures/chain).

Writes a small synthetic Tendermint chain in the reference's golden-template
layout (FIXTURES.md §A), so the connector, wire, stream and sink specs run
where the reference corpus is absent:

    block/<h>.json              RPC /block responses, 106 heights
    block_results/<h>.json      RPC /block_results responses, 104 heights
    blockchain/<lo>-<hi>.json   RPC /blockchain pages, height-descending
    live/<h>.json               websocket NewBlock envelopes, 6 heights
    abci_info/success.json      tip templated as ${last_block_height:-3028985}
    rpc/responses/*.json        the six control frames of §A.6
    manifest.json               every value a spec asserts, computed from
                                the files written above

The LAYOUT copies the golden corpus: historical heights 2270370..2270469
(29 of them carry txs), live heights 3126935..3126940 above the abci tip,
20-height pages plus the 4-height 2270370-2270373 page, no block_results at
2270417 and 2270420, end_block_events non-null at 2270465 only, a 202-event
tx at 2270408 (tx 0) whose results span more than one 16 KiB HTTP/2 frame,
a `mint` begin-block event at 2270374, a real last_block_id on every block.
The VALUES (chain id, times, hashes, fees, event counts) are this chain's
own and are recorded in manifest.json; the specs read them from there.

Standard library only, and independent of perfbench/ on purpose: a change
to the benchmark's generator cannot change the test corpus.

Usage: python3 tools/fixture_chain.py OUT_DIR [--seed 7]
OUT_DIR must not exist. The output is byte-identical for a given seed.
"""
import argparse
import base64
import datetime
import hashlib
import json
import math
import os
import random
import sys

CHAIN_ID = "graft-fixture-1"
HIST_FROM, HIST_TO = 2270370, 2270469
LIVE_FROM, LIVE_TO = 3126935, 3126940
ABCI_TIP = 3028985            # the abci template's default tip
NONEMPTY = 29                 # historical heights that carry txs
NO_RESULTS = (2270417, 2270420)
END_BLOCK_HEIGHT = 2270465
MINT_HEIGHT = 2270374
BIG_TX_HEIGHT, BIG_TX_EVENTS = 2270408, 202
FRAME_BYTES = 16 * 1024       # default HTTP/2 max frame size
GENESIS = datetime.datetime(2022, 3, 1, 12, 0, 0, tzinfo=datetime.timezone.utc)
TX_EVENT_TYPES = ["message", "transfer", "coin_spent", "coin_received",
                  "provenance.metadata.v1.EventScopeCreated", "marker_transfer"]
BLOCK_EVENT_TYPES = ["coin_spent", "coin_received", "transfer", "message",
                     "commission", "rewards", "proposer_reward"]
ATTR_KEYS = ["sender", "recipient", "amount", "module", "action", "scope_addr",
             "validator"]


# ---- protobuf wire helpers (cosmos TxRaw) ---------------------------------

def varint(n):
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def field_bytes(num, payload):
    return varint((num << 3) | 2) + varint(len(payload)) + payload


def field_varint(num, value):
    return varint(num << 3) + varint(value)


def tx_raw(rng, fee, denom, gas_limit, memo):
    """TxRaw{body_bytes=TxBody{messages, memo}, auth_info_bytes=AuthInfo{
    signer_infos, fee{amount[Coin], gas_limit}}, signatures}. proto3 omits
    an empty memo."""
    msg = field_bytes(1, b"/cosmos.bank.v1beta1.MsgSend") + \
        field_bytes(2, rng.randbytes(rng.randint(40, 120)))
    body = field_bytes(1, msg) + (field_bytes(2, memo.encode()) if memo else b"")
    coin = field_bytes(1, denom.encode()) + field_bytes(2, str(fee).encode())
    fee_msg = field_bytes(1, coin) + field_varint(2, gas_limit)
    auth = field_bytes(1, rng.randbytes(48)) + field_bytes(2, fee_msg)
    return field_bytes(1, body) + field_bytes(2, auth) + field_bytes(3, rng.randbytes(64))


# ---- JSON value helpers ----------------------------------------------------

def b64(b):
    return base64.b64encode(b).decode()


def hexs(rng, n):
    return rng.randbytes(n).hex().upper()


def go_time(t, nanos):
    """Go RFC3339Nano: 9-digit fraction, trailing zeros stripped."""
    base = t.strftime("%Y-%m-%dT%H:%M:%S")
    frac = ("%09d" % nanos).rstrip("0")
    return base + ("." + frac if frac else "") + "Z"


def block_time(rng, h):
    return go_time(GENESIS + datetime.timedelta(seconds=6 * (h - HIST_FROM)),
                   rng.randint(1, 999_999_999))


def attr(key, value):
    return {"key": b64(key.encode()),
            "value": None if value is None else b64(value.encode()),
            "index": True}


def event(rng, types):
    keys = rng.sample(ATTR_KEYS, rng.randint(2, 3))
    return {"type": rng.choice(types),
            "attributes": [attr(k, "v%d" % rng.getrandbits(30)) for k in keys]}


def mint_event(rng):
    return {"type": "mint", "attributes": [
        attr("bonded_ratio", "0.%018d" % rng.getrandbits(59)),
        attr("inflation", "0.%018d" % rng.getrandbits(56)),
        attr("annual_provisions", "%d.%018d" % (rng.getrandbits(40), rng.getrandbits(59))),
        attr("amount", str(rng.randint(0, 3)))]}


def events_per_tx(rng):
    return min(60, max(1, round(rng.lognormvariate(math.log(12), 0.8))))


def dump(path, doc):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")


# ---- the chain ---------------------------------------------------------------

def generate(seed, out):
    rng = random.Random(seed)
    validators = [hexs(rng, 20) for _ in range(4)]
    hist = list(range(HIST_FROM, HIST_TO + 1))
    live = list(range(LIVE_FROM, LIVE_TO + 1))
    fixed = {BIG_TX_HEIGHT, *NO_RESULTS}
    nonempty = fixed | set(rng.sample([h for h in hist if h not in fixed],
                                      NONEMPTY - len(fixed)))
    m = {"seed": seed, "chain_id": CHAIN_ID, "tx_event_rows": 0,
         "block_event_rows": 0, "tx_errors": 0, "heights_with_results": 0,
         "blocks_with_mint_event": 0, "blocks_with_transfer_tx_event": 0,
         "tx_hashes": [], "fees_by_denom": {}}
    metas = {}
    prev_id = {"hash": hexs(rng, 32), "parts": {"total": 1, "hash": hexs(rng, 32)}}
    for h in hist + live:
        if h == LIVE_FROM:   # the live tail is a later stretch of the chain
            prev_id = {"hash": hexs(rng, 32), "parts": {"total": 1, "hash": hexs(rng, 32)}}
        historical = h <= HIST_TO
        n_txs = (4 if h == BIG_TX_HEIGHT else rng.randint(1, 8)) \
            if (h in nonempty or not historical) else 0
        txs, results, fees = [], [], []
        for i in range(n_txs):
            fee, gas = rng.randint(10_000, 20_000_000_000), rng.randint(100_000, 9_000_000)
            memo = "" if rng.random() < 0.7 else "memo-%d" % rng.randint(0, 10**6)
            raw = tx_raw(rng, fee, "nhash", gas, memo)
            n_ev = BIG_TX_EVENTS if (h, i) == (BIG_TX_HEIGHT, 0) else events_per_tx(rng)
            evs = [event(rng, TX_EVENT_TYPES) for _ in range(n_ev)]
            txs.append(b64(raw))
            fees.append(fee)
            results.append({"code": 0, "data": b64(rng.randbytes(8)), "log": "[]",
                            "info": "", "gas_wanted": str(gas),
                            "gas_used": str(rng.randint(gas // 2, gas)),
                            "events": evs, "codespace": ""})
            if historical:
                m["tx_hashes"].append([h, i, hashlib.sha256(raw).hexdigest().upper()])
            if (h, i) == (BIG_TX_HEIGHT, 0):
                m["big_tx"] = {"height": h, "tx_index": i,
                               "hash": m["tx_hashes"][-1][2], "fee": str(fee),
                               "denom": "nhash", "memo": memo,
                               "gas_wanted": str(gas), "events": n_ev}
        when = block_time(rng, h)
        if h == HIST_FROM:
            m["first_block_time"] = when
        block_id = {"hash": hexs(rng, 32), "parts": {"total": 1, "hash": hexs(rng, 32)}}
        header = {"version": {"block": "11"}, "chain_id": CHAIN_ID,
                  "height": str(h), "time": when, "last_block_id": prev_id,
                  "last_commit_hash": hexs(rng, 32), "data_hash": hexs(rng, 32),
                  "validators_hash": hexs(rng, 32),
                  "next_validators_hash": hexs(rng, 32),
                  "consensus_hash": hexs(rng, 32), "app_hash": hexs(rng, 32),
                  "last_results_hash": hexs(rng, 32), "evidence_hash": hexs(rng, 32),
                  "proposer_address": rng.choice(validators)}
        absent = rng.randrange(len(validators))  # one validator missed the vote
        sigs = [{"block_id_flag": 1, "validator_address": "",
                 "timestamp": "0001-01-01T00:00:00Z", "signature": None}
                if j == absent else
                {"block_id_flag": 2, "validator_address": v,
                 "timestamp": block_time(rng, h - 1),
                 "signature": b64(rng.randbytes(64))}
                for j, v in enumerate(validators)]
        block = {"header": header, "data": {"txs": txs},
                 "evidence": {"evidence": []},
                 "last_commit": {"height": str(h - 1), "round": 0,
                                 "block_id": prev_id, "signatures": sigs}}
        body = {"jsonrpc": "2.0", "id": -1,
                "result": {"block_id": block_id, "block": block}}
        dump(os.path.join(out, "block", "%d.json" % h), body)
        metas[h] = {"block_id": block_id,
                    "block_size": str(len(json.dumps(body, separators=(",", ":")))),
                    "header": header, "num_txs": str(len(txs))}
        prev_id = block_id

        begin = [mint_event(rng)] + [event(rng, BLOCK_EVENT_TYPES)
                                     for _ in range(rng.randint(8, 30))]
        # a null attribute value, as the real corpus carries
        begin.append({"type": "commission", "attributes": [
            attr("amount", None), attr("validator", rng.choice(validators).lower())]})
        end = [event(rng, ["transfer"]), event(rng, ["message"])] \
            if h == END_BLOCK_HEIGHT else None
        if historical and h not in NO_RESULTS:
            res = {"jsonrpc": "2.0", "id": -1, "result": {
                "height": str(h), "txs_results": results or None,
                "begin_block_events": begin, "end_block_events": end,
                "validator_updates": None, "consensus_param_updates": None}}
            dump(os.path.join(out, "block_results", "%d.json" % h), res)
            m["heights_with_results"] += 1
            m["block_event_rows"] += len(begin)
            m["blocks_with_mint_event"] += any(e["type"] == "mint" for e in begin)
            m["tx_event_rows"] += sum(len(r["events"]) for r in results)
            m["tx_errors"] += sum(r["code"] != 0 for r in results)
            m["blocks_with_transfer_tx_event"] += any(
                e["type"] == "transfer" for r in results for e in r["events"])
            if fees:
                d = m["fees_by_denom"].setdefault("nhash", [0, 0])
                d[0] += sum(fees)
                d[1] += len(fees)
            if h == END_BLOCK_HEIGHT:
                m["end_block_event_types"] = [e["type"] for e in end]
            if h == MINT_HEIGHT:
                amount = begin[0]["attributes"][-1]
                m["mint"] = {"height": h, "amount_b64": amount["value"],
                             "amount": base64.b64decode(amount["value"]).decode()}
            if h == BIG_TX_HEIGHT:
                size = len(json.dumps(res, separators=(",", ":")))
                assert size > FRAME_BYTES, "2270408's results must span frames"
        elif not historical:
            dump(os.path.join(out, "block_results", "%d.json" % h), {
                "jsonrpc": "2.0", "id": -1, "result": {
                    "height": str(h), "txs_results": results or None,
                    "begin_block_events": begin, "end_block_events": None,
                    "validator_updates": None, "consensus_param_updates": None}})
            dump(os.path.join(out, "live", "%d.json" % h), {
                "jsonrpc": "2.0", "id": 0, "result": {
                    "query": "tm.event='NewBlock'",
                    "data": {"type": "tendermint/event/NewBlock", "value": {
                        "block": block,
                        "result_begin_block": {"events": begin},
                        "result_end_block": {"validator_updates": [],
                                             "consensus_param_updates": None,
                                             "events": []}}},
                    "events": {"tm.event": ["NewBlock"]}}})

    pages = [(lo, min(lo + 19, HIST_TO)) for lo in range(HIST_FROM, HIST_TO + 1, 20)]
    for lo, hi in pages + [(HIST_FROM, HIST_FROM + 3)]:
        dump(os.path.join(out, "blockchain", "%d-%d.json" % (lo, hi)), {
            "jsonrpc": "2.0", "id": -1, "result": {
                "last_height": str(HIST_TO),
                "block_metas": [metas[h] for h in range(hi, lo - 1, -1)]}})
    dump(os.path.join(out, "abci_info", "success.json"), {
        "jsonrpc": "2.0", "id": -1, "result": {"response": {
            "data": "provenanced", "version": "1.5.0",
            "last_block_height": "${last_block_height:-%d}" % ABCI_TIP,
            "last_block_app_hash": b64(rng.randbytes(32))}}})
    control_frames(os.path.join(out, "rpc", "responses"))

    m["nonempty_blocks"] = len(nonempty)
    m["fees_by_denom"] = [[d, t, n] for d, (t, n) in sorted(m["fees_by_denom"].items())]
    dump(os.path.join(out, "manifest.json"), m)


def control_frames(d):
    """The six §A.6 frames: Empty, Unknown, malformed, Error (bare and
    wrapped under result.response) and Panic."""
    err = {"code": -1000, "log": "something bad happened"}
    frames = {
        "empty": {"jsonrpc": "2.0", "id": 0, "result": {}},
        "unknown": {"jsonrpc": "2.0", "id": 0, "result": {
            "query": "tm.event='Tx'",
            "data": {"type": "tendermint/event/Tx", "value": {}}}},
        "error_unwrapped": {"jsonrpc": "2.0", "id": 0, "result": err},
        "error_wrapped": {"jsonrpc": "2.0", "id": 0, "result": {"response": err}},
        "panic": {"jsonrpc": "2.0", "id": 0, "result": {
            "code": -1000, "log": "panic: runtime error: index out of range"}},
    }
    for name, doc in frames.items():
        dump(os.path.join(d, name + ".json"), doc)
    with open(os.path.join(d, "malformed.json"), "w") as f:
        f.write('{"jsonrpc": "2.0", "id": 0, "result": {"data": \n')


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args(argv)
    if os.path.exists(a.out):
        sys.exit("%s exists; remove it first" % a.out)
    generate(a.seed, a.out)


if __name__ == "__main__":
    main(sys.argv[1:])
