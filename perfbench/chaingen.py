#!/usr/bin/env python3
"""Seeded chain generator: writes a dense synthetic Tendermint chain in the
golden-template layout the stub nodes serve.

    block/<h>.json            RPC /block response
    block_results/<h>.json    RPC /block_results response
    blockchain/<lo>-<hi>.json RPC /blockchain 20-height pages (descending)
    abci_info/success.json    RPC /abci_info (tip templated as ${last_block_height})
    expected.json             totals the benchmark checks outputs against

Txs are cosmos `TxRaw` protobufs (body_bytes = TxBody{messages, memo},
auth_info_bytes = AuthInfo{fee{amount[Coin], gas_limit}}) so the engine's
fee/memo decode has real work. Every tx carries at least one event, so the
distinct heights of the tx-event table equal the non-empty block count.

The default mix follows the repository's golden chain (heights
2270370..2270469, the fixture its tests pin): 29 of 100 blocks non-empty
(here 29 in every window of 100 heights), 9838 tx-event rows (about 339
per non-empty block), 2211 begin-block events (about 22 per block), and
one tx carrying 202 events (BlockCoreSpec, MainSpec, GrpcWireSpec). Txs per non-empty block are uniform in
1..max_txs; events per tx are log-normal around events_median, clipped to
1..max_events, which gives the heavy tail up to the golden 202.

Usage: python3 perfbench/chaingen.py --seed 7 --out DIR [--heights 3000]
       [--nonempty 0.29] [--max-txs 8] [--events-median 55]
       [--max-events 202] [--begin-events 22] [--range-to 1000]
"""
import argparse
import base64
import itertools
import json
import math
import os
import random
import shutil
import sys

CHAIN_ID = "perfbench-1"
GENESIS_SECONDS = 1_700_000_000  # 2023-11-14T22:13:20Z
# the default mix: the golden chain's (see the module docstring)
GOLDEN_MIX = dict(nonempty=0.29, max_txs=8, events_median=55, max_events=202,
                  begin_events=22)
EVENT_TYPES = ["message", "transfer", "coin_spent", "coin_received",
               "provenance.metadata.v1.EventScopeCreated", "marker_transfer"]
ATTR_KEYS = ["sender", "recipient", "amount", "module", "action", "scope_addr"]


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


def tx_raw(rng, fee, denom, memo):
    msg_any = field_bytes(1, b"/cosmos.bank.v1beta1.MsgSend") + \
        field_bytes(2, rng.randbytes(rng.randint(40, 120)))
    body = field_bytes(1, msg_any) + field_bytes(2, memo.encode())
    coin = field_bytes(1, denom.encode()) + field_bytes(2, str(fee).encode())
    fee_msg = field_bytes(1, coin) + field_varint(2, 200000)
    auth = field_bytes(1, rng.randbytes(48)) + field_bytes(2, fee_msg)
    return field_bytes(1, body) + field_bytes(2, auth) + field_bytes(3, rng.randbytes(64))


def hexs(rng, n):
    return rng.randbytes(n).hex().upper()


def b64(b):
    return base64.b64encode(b).decode()


def go_time(seconds, nanos):
    """Go RFC3339Nano: 9-digit fraction with trailing zeros stripped."""
    import datetime
    t = datetime.datetime.fromtimestamp(seconds, datetime.timezone.utc)
    base = t.strftime("%Y-%m-%dT%H:%M:%S")
    if nanos == 0:
        return base + "Z"
    return base + "." + ("%09d" % nanos).rstrip("0") + "Z"


# every ordered choice of two or three distinct attribute keys, base64'd
ATTR_LAYOUTS = [[b64(k.encode()) for k in ks] for r in (2, 3)
                for ks in itertools.permutations(ATTR_KEYS, r)]


def event(rng):
    """One ABCI event, already rendered as compact JSON (the chain holds
    hundreds of thousands; rendering them as strings keeps generation to
    seconds)."""
    attrs = ",".join('{"key":"%s","value":"%s","index":true}'
                     % (k, b64(b"v%d" % rng.getrandbits(30)))
                     for k in rng.choice(ATTR_LAYOUTS))
    return '{"type":"%s","attributes":[%s]}' % (rng.choice(EVENT_TYPES), attrs)


def nonempty_heights(rng, heights, share):
    """round(share * 100) non-empty heights in every window of 100, placed
    at random: the golden 29 of 100 in each window, so the work of a range
    varies little from seed to seed."""
    k = round(share * 100)
    return {lo + i for lo in range(1, heights + 1, 100)
            for i in rng.sample(range(100), k)}


def events_per_tx(rng, median, cap):
    return min(cap, max(1, round(rng.lognormvariate(math.log(median), 1.0))))


def generate(seed, out, heights, nonempty, max_txs, events_median, max_events,
             begin_events, range_to):
    rng = random.Random(seed)
    os.makedirs(out)
    for d in ("block", "block_results", "blockchain", "abci_info"):
        os.makedirs(os.path.join(out, d))
    validators = [hexs(rng, 20) for _ in range(4)]
    totals = {"heights": 0, "nonempty_blocks": 0, "txs": 0,
              "tx_event_rows": 0, "fee_sum": 0}
    metas = {}
    prev_id = {"hash": "", "parts": {"total": 0, "hash": ""}}
    full = nonempty_heights(rng, heights, nonempty)
    for h in range(1, heights + 1):
        secs = GENESIS_SECONDS + 6 * h
        when = go_time(secs, rng.randint(1, 999_999_999))
        txs, results = [], []
        if h in full:
            for _ in range(rng.randint(1, max_txs)):
                fee = rng.randint(1, 5_000_000)
                raw = tx_raw(rng, fee, "nhash", "memo-%d" % rng.randint(0, 10**6))
                evs = [event(rng) for _ in range(events_per_tx(rng, events_median, max_events))]
                txs.append(b64(raw))
                results.append(
                    '{"code":%d,"data":"%s","log":"[]","info":"","gas_wanted":"200000",'
                    '"gas_used":"%d","events":[%s],"codespace":""}'
                    % (0 if rng.random() > 0.05 else 5, b64(rng.randbytes(8)),
                       rng.randint(50000, 199999), ",".join(evs)))
                if h <= range_to:
                    totals["txs"] += 1
                    totals["tx_event_rows"] += len(evs)
                    totals["fee_sum"] += fee * len(evs)
        if h <= range_to:
            totals["heights"] += 1
            totals["nonempty_blocks"] += 1 if txs else 0
        block_id = {"hash": hexs(rng, 32), "parts": {"total": 1, "hash": hexs(rng, 32)}}
        header = {"version": {"block": "11", "app": "0"}, "chain_id": CHAIN_ID,
                  "height": str(h), "time": when, "last_block_id": prev_id,
                  "last_commit_hash": hexs(rng, 32), "data_hash": hexs(rng, 32),
                  "validators_hash": hexs(rng, 32),
                  "next_validators_hash": hexs(rng, 32),
                  "consensus_hash": hexs(rng, 32), "app_hash": hexs(rng, 32),
                  "last_results_hash": hexs(rng, 32), "evidence_hash": hexs(rng, 32),
                  "proposer_address": rng.choice(validators)}
        commit = {"height": str(h - 1), "round": 0, "block_id": prev_id,
                  "signatures": [{"block_id_flag": 2, "validator_address": v,
                                  "timestamp": go_time(secs - 1, rng.randint(1, 999_999_999)),
                                  "signature": b64(rng.randbytes(64))}
                                 for v in validators]}
        block = {"jsonrpc": "2.0", "id": -1, "result": {"block_id": block_id, "block": {
            "header": header, "data": {"txs": txs}, "evidence": {"evidence": []},
            "last_commit": commit}}}
        begin = ['{"type":"mint","attributes":[{"key":"%s","value":"%s","index":true}]}'
                 % (b64(b"amount"), b64(b"%d" % rng.randint(1, 10**6)))]
        begin += [event(rng) for _ in range(begin_events - 1)]
        res = ('{"jsonrpc":"2.0","id":-1,"result":{"height":"%d","txs_results":%s,'
               '"begin_block_events":[%s],"end_block_events":null,'
               '"validator_updates":null,"consensus_param_updates":null}}'
               % (h, "[%s]" % ",".join(results) if results else "null", ",".join(begin)))
        body = json.dumps(block, separators=(",", ":"))
        with open(os.path.join(out, "block", "%d.json" % h), "w") as f:
            f.write(body)
        with open(os.path.join(out, "block_results", "%d.json" % h), "w") as f:
            f.write(res)
        metas[h] = {"block_id": block_id, "block_size": str(len(body)),
                    "num_txs": str(len(txs)), "header": header}
        prev_id = block_id
    for lo in range(1, heights + 1, 20):
        hi = min(lo + 19, heights)
        page = {"jsonrpc": "2.0", "id": -1, "result": {
            "last_height": str(heights),
            "block_metas": [metas[h] for h in range(hi, lo - 1, -1)]}}
        with open(os.path.join(out, "blockchain", "%d-%d.json" % (lo, hi)), "w") as f:
            f.write(json.dumps(page, separators=(",", ":")))
    with open(os.path.join(out, "abci_info", "success.json"), "w") as f:
        f.write('{"jsonrpc":"2.0","id":-1,"result":{"response":{"data":"provenanced",'
                '"last_block_height":"${last_block_height:-%d}",'
                '"last_block_app_hash":"AA=="}}}' % heights)
    totals["range_from"], totals["range_to"] = 1, range_to
    totals["chain_heights"] = heights
    totals["seed"] = seed
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(totals, f)
    return totals


def ensure(seed, out, **kw):
    """Generate into `out` unless a complete chain for the same parameters
    is already there (generation writes to a sibling and renames, so a
    present `out` is always complete)."""
    key = json.dumps(dict(seed=seed, **kw), sort_keys=True)
    stamp = os.path.join(out, "params.json")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return json.load(open(os.path.join(out, "expected.json")))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    totals = generate(seed, tmp, **kw)
    with open(os.path.join(tmp, "params.json"), "w") as f:
        f.write(key)
    os.rename(tmp, out)
    return totals


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--heights", type=int, default=3000)
    for k, v in GOLDEN_MIX.items():
        ap.add_argument("--" + k.replace("_", "-"), type=type(v), default=v)
    ap.add_argument("--range-to", type=int, default=1000,
                    help="last height counted in expected.json")
    a = ap.parse_args(argv)
    totals = ensure(a.seed, a.out, heights=a.heights, nonempty=a.nonempty,
                    max_txs=a.max_txs, events_median=a.events_median,
                    max_events=a.max_events, begin_events=a.begin_events,
                    range_to=a.range_to)
    print(json.dumps(totals))


if __name__ == "__main__":
    main(sys.argv[1:])
