"""Seeded input generator for the medallion benchmark.

The program under test never sees the seed: this module turns
``(workload, seed)`` into staged files (JSON lines), and the benchmark's
JVM side only reads, encodes and moves those files.  The same seed always
gives byte-identical files.

Shapes follow the harness sf0.1 orders/customers tables (TPC-H-like):
15,000 customers in 5 market segments (the ``region`` of the reference
schema), ~62 orders per order date over 2,405 dates from 1995-01-01, order
amounts uniform in [1000, 500000).  ``SHAPES`` records, per workload, what
is generated and why that shape was chosen.
"""

import datetime as _dt
import json
import os
import random

FIRST_DATE = _dt.date(1995, 1, 1)
SF01_DATES = 2405
SF01_ORDERS_PER_DATE = 62.0
SF01_ORDERS_PER_DATE_SD = 8.0
CUSTOMERS = 15000
REGIONS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
AMOUNT_RANGE = (1000.0, 500000.0)

SHAPES = {
    "medallion_batch": {
        "days": 10,
        "files": 8,
        "why": "A contiguous window of sf0.1 order dates at sf0.1 rows-per-date "
               "density, landed as 8 JSON-lines files, so one rep stays a few "
               "seconds long and several reps fit a run. Gold keeps the "
               "(sale_date, region) layout, but 10 days give 50 gold partitions, "
               "not the ~12k of full sf0.1, so partition writes do not dominate. "
               "A traced rep on a 4-vCPU host (seed 301) takes 4.4 s: to_gold "
               "1.9 s (42%), to_silver 1.0 s, to_bronze 0.9 s, "
               "customers_to_silver 0.6 s.",
    },
    "cdc_upsert": {
        "base_orders": 20000,
        "events_per_file": 5,
        "files_per_s": 10.0,
        "warmup_files": 120,
        "hot_keys": 200,
        "hot_share": 0.8,
        "mix": {"c": 0.2, "u": 0.7, "d": 0.1},
        "why": "Debezium change files over a 20k-order silver base. File size: "
               "5 events, the reference ingester's flush boundary (5 records or "
               "5 s). Rate: its producer's 1 msg/s would land one file per 5 s, "
               "3 files in an 18-s run, too few for a p90 with ten samples beyond "
               "it. So files arrive at 10 files/s (180 per run), about a tenth of "
               "this chain's capacity, measured on a 4-vCPU host at seed 900: "
               "latency stays flat over 20-s runs at 40 and 80 files/s (p50 "
               "5.0 s, 8.1 s); at 120 and 160 the last third of files is 9% and "
               "16% later than the first third, so gold falls behind. Far below "
               "capacity, latency is the per-batch cost of the merge and the view, "
               "not queueing. 120 untimed warm-up files (12 s) come first: after "
               "only 50, the first third of measured files ran up to 25% later "
               "than the rest and runs spread 18% in p50 latency. Each file holds "
               "one create (its marker key) and four updates or deletes, so the "
               "creates are mix['c'] = 1/events_per_file. The 20/70/10 "
               "create/update/delete mix and the skew (80% of updates on 200 hot "
               "keys) are assumptions: no data in the repository gives a change "
               "mix or a key skew.",
    },
}


def stream_file_count(workload, seconds):
    """Warm-up plus measured files for a stream workload run of ``seconds``."""
    shape = SHAPES[workload]
    return shape["warmup_files"] + int(round(shape["files_per_s"] * seconds))


def _rng(workload, seed, part):
    # str seeds hash through sha512: stable across processes and platforms
    return random.Random(f"perfbench:{workload}:{seed}:{part}")


def _day(d):
    return (FIRST_DATE + _dt.timedelta(days=d)).isoformat()


def _amount(rng):
    lo, hi = AMOUNT_RANGE
    return round(rng.uniform(lo, hi), 2)


def _orders_per_date(rng):
    return max(1, int(round(rng.gauss(SF01_ORDERS_PER_DATE, SF01_ORDERS_PER_DATE_SD))))


def _dump(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":"), sort_keys=True))
            f.write("\n")


def customers(seed):
    rng = _rng("customers", seed, 0)
    return [{
        "customer_id": i,
        "name": f"Customer#{i:09d}",
        "email": f"customer{i:09d}@example.com",
        "region": REGIONS[rng.randrange(len(REGIONS))],
        "customer_tenure_days": rng.randint(1, 100),
    } for i in range(CUSTOMERS)]


def _order(order_id, day, rng):
    return {
        "order_id": order_id,
        "order_date": _day(day) + "T00:00:00",
        "order_amount": _amount(rng),
        "customer_id": rng.randrange(CUSTOMERS),
    }


def batch_orders(seed):
    """One seeded window of ``days`` contiguous order dates, all rows valid
    (the batch DQ gate is all-or-nothing, and a quarantined run writes no gold)."""
    shape = SHAPES["medallion_batch"]
    rng = _rng("medallion_batch", seed, 0)
    days = shape["days"]
    start = rng.randrange(SF01_DATES - days)
    # per-date counts vary as at sf0.1, but every window holds the same total,
    # so a seed changes which rows a rep processes and not how many
    counts = [_orders_per_date(rng) for _ in range(days)]
    total = int(round(SF01_ORDERS_PER_DATE * days))
    while sum(counts) != total:
        i = rng.randrange(days)
        if sum(counts) > total and counts[i] > 1:
            counts[i] -= 1
        elif sum(counts) < total:
            counts[i] += 1
    order_id = 1 + start * 100
    rows = []
    for d, n in zip(range(start, start + days), counts):
        for _ in range(n):
            rows.append(_order(order_id, d, rng))
            order_id += 1
    return rows


def _value(order_id, epoch_day, amount, customer_id):
    return {"order_id": order_id, "order_date": epoch_day,
            "order_amount": amount, "customer_id": customer_id}


def cdc_base(seed):
    """The pre-built silver base: ``base_orders`` orders over a seeded window
    of dates, keyed by ``order_id`` 1..N."""
    shape = SHAPES["cdc_upsert"]
    rng = _rng("cdc_upsert", seed, "base")
    start = rng.randrange(SF01_DATES - 400)
    epoch0 = (FIRST_DATE - _dt.date(1970, 1, 1)).days
    rows = []
    day = start
    left_today = _orders_per_date(rng)
    for k in range(1, shape["base_orders"] + 1):
        if left_today == 0:
            day += 1
            left_today = _orders_per_date(rng)
        left_today -= 1
        rows.append(_value(k, epoch0 + day, _amount(rng), rng.randrange(CUSTOMERS)))
    return rows


def cdc_files(seed, n_files, base):
    """Debezium envelopes (op, before, after, ts_ms) per file. ``ts_ms`` is a
    global event sequence (the merge's ``sequenceBy``). Each file opens with
    the one create it holds, of a fresh key that no later event touches, so
    the silver version that applied a file can be read off silver's change
    feed. The other events are updates and deletes in the ratio of ``mix``.
    Updates pick a hot key with probability ``hot_share``; deletes only take
    cold keys, each at most once, so every update and delete has a live
    before-image."""
    shape = SHAPES["cdc_upsert"]
    rng = _rng("cdc_upsert", seed, "changes")
    per = shape["events_per_file"]
    live = {r["order_id"]: r for r in base}
    hot = list(range(1, shape["hot_keys"] + 1))
    cold = list(range(shape["hot_keys"] + 1, len(base) + 1))
    rng.shuffle(cold)
    last_day = max(r["order_date"] for r in base)
    next_key = len(base) + 1
    seq = 0
    files = []
    mix = shape["mix"]
    p_update = mix["u"] / (mix["u"] + mix["d"])
    for _ in range(n_files):
        seq += 1
        after = _value(next_key, last_day - rng.randrange(30), _amount(rng),
                       rng.randrange(CUSTOMERS))
        next_key += 1
        events = [{"op": "c", "before": None, "after": after, "ts_ms": seq}]
        for _ in range(per - 1):
            seq += 1
            if rng.random() < p_update or not cold:
                if rng.random() < shape["hot_share"]:
                    key = hot[rng.randrange(len(hot))]
                else:
                    key = cold[rng.randrange(len(cold))]
                before = live[key]
                after = dict(before, order_amount=_amount(rng))
                live[key] = after
                events.append({"op": "u", "before": before, "after": after, "ts_ms": seq})
            else:
                key = cold.pop()
                before = live.pop(key)
                events.append({"op": "d", "before": before, "after": None, "ts_ms": seq})
        files.append(events)
    return files


def stage(workload, seed, seconds, out_dir):
    """Write every input the run needs under ``out_dir`` and return the
    manifest (also written as ``manifest.json``)."""
    if workload not in SHAPES:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out_dir, exist_ok=True)
    shape = SHAPES[workload]
    manifest = {"workload": workload, "seed": seed, "shape": shape}
    _dump(os.path.join(out_dir, "customers.jsonl"), customers(seed))
    if workload == "medallion_batch":
        rows = batch_orders(seed)
        d = os.path.join(out_dir, "orders")
        os.makedirs(d, exist_ok=True)
        n = shape["files"]
        for i in range(n):
            _dump(os.path.join(d, f"part-{i:05d}.jsonl"), rows[i::n])
        manifest["orders"] = len(rows)
    else:
        n_files = stream_file_count(workload, seconds)
        d = os.path.join(out_dir, "files")
        os.makedirs(d, exist_ok=True)
        base = cdc_base(seed)
        _dump(os.path.join(out_dir, "base.jsonl"), base)
        files = cdc_files(seed, n_files, base)
        markers = [events[0]["after"]["order_id"] for events in files]
        manifest["base_orders"] = len(base)
        for i, rows in enumerate(files):
            _dump(os.path.join(d, f"f-{i:05d}.jsonl"), rows)
        manifest["files"] = n_files
        manifest["warmup_files"] = shape["warmup_files"]
        manifest["rows_per_file"] = len(files[0])
        manifest["interval_s"] = 1.0 / shape["files_per_s"]
        # one key per file that only that file writes: the row whose silver
        # version tells which micro-batch carried the file
        manifest["markers"] = markers
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    return manifest
