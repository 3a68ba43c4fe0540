#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 graftbench/test/selftest.py

1. Protocol pins: graftbench.ProtocolCheck drives graft's HttpSfTransport
   against the fixture (query/queryAll visibility, the NotProcessed
   parent batch, nextRecordsUrl pages, COUNT() with a WHERE, null text
   from Bulk CSV landing as NULL).
2. Clean runs of every workload on a held-out seed report 0 failed ops.
   The replication run is traced, and its per-layer readout must show no
   SOQL with an empty select list and no destination write in a
   zero-delta round.
3. Each injected fault — an altered sink cell, a missed soft delete, a
   watermark behind the max landed modstamp, a __sync row stuck in
   running, a rejected upload record, one wrong row in a query result —
   is reported as failed ops.

Runs use the benchmark's sizes and a 1 s measuring window. Exit code 0 =
all pass. graft's known defects (null text lands as '', the empty select
list of sync's delta check, zero-delta rounds rewriting re-delivered
rows) fail it until graft is fixed.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402

HELD_OUT_SEED = 90210
CASES = [
    # (workload, fault or "", expect failures)
    ("replicate_cdc", "", False),  # traced, see LAYER_ZERO
    ("analytics_mix", "", False),
    ("replicate_cdc", "sink_cell", True),
    ("replicate_cdc", "missed_delete", True),
    ("replicate_cdc", "stale_watermark", True),
    ("replicate_cdc", "stuck_running", True),
    ("replicate_cdc", "reject_upload", True),
    ("analytics_mix", "mix_row", True),
]


# per-layer metrics of a clean replication run that must be 0
LAYER_ZERO = ("fixture.empty_select_soql", "sink.zero_delta_dest_writes")


def bench(workload, fault, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(HELD_OUT_SEED), "--seconds", "1", "--trace", str(trace)]
    if fault:
        cmd += ["--inject", fault]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=240)
    if p.returncode != 0:
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bad = 0
    cp = build.build()
    p = subprocess.run([build.java(), "-Duser.timezone=UTC", *build.ADD_OPENS, "-cp", cp,
                        "graftbench.ProtocolCheck"], cwd=ROOT, timeout=240)
    if p.returncode != 0:
        bad += 1
    for workload, fault, want_fail in CASES:
        traced = workload == "replicate_cdc" and not fault
        r = bench(workload, fault, int(traced))
        name = f"{workload}{' + ' + fault if fault else ' (clean)'}"
        if r is None:
            print(f"FAIL {name}: benchmark run did not complete")
            bad += 1
        elif want_fail and not (r["failed"] > 0 and not r["correct"]):
            print(f"FAIL {name}: fault not detected ({r['failed']} of {r['attempted']} failed)")
            bad += 1
        elif not want_fail and (r["failed"] != 0 or not r["correct"]):
            print(f"FAIL {name}: {r['failed']} of {r['attempted']} ops failed")
            bad += 1
        else:
            print(f"ok   {name}: {r['failed']} of {r['attempted']} ops failed")
        if traced and r is not None:
            for m in LAYER_ZERO:
                v = r["metrics"][m]["value"]
                print(f"{'ok  ' if v == 0 else 'FAIL'} {name}: {m} = {v:g}, want 0")
                bad += v != 0
    print("self-test passed" if bad == 0 else f"self-test: {bad} failure(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
