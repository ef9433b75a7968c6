#!/usr/bin/env python3
"""Summarize a JVM unified GC log (-Xlog:gc:FILE:time,uptime) next to a
StreamBench per-batch series, so a multi-second trigger stall can be
attributed to GC pause vs host (r12 verdict: stream stall forensics).

Usage: gc_stamp.py <gc.log> [streambench_json_line_file]

Prints one JSON line: pause count/sum/max, pauses >= 200 ms with wall
timestamps, and (when the bench line is given) each big pause's offset
into the run so it can be matched against per_batch_lat_s.
"""
import json
import re
import sys


def parse_gc(path):
    pauses = []  # (epoch_ms, pause_ms, kind)
    pat = re.compile(
        r"\[(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}[+-]\d{4})\]"
        r".*?Pause (\w+)[^)]*\).*?(\d+\.\d+)ms")
    import datetime
    for line in open(path, errors="replace"):
        m = pat.search(line)
        if not m:
            continue
        # the stamp is local time with its UTC offset: %z applies it
        ts = datetime.datetime.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S.%f%z")
        epoch_ms = int(ts.timestamp() * 1000)
        pauses.append((epoch_ms, float(m.group(3)), m.group(2)))
    return pauses


def main():
    pauses = parse_gc(sys.argv[1])
    out = {
        "n_pauses": len(pauses),
        "sum_pause_ms": round(sum(p[1] for p in pauses), 1),
        "max_pause_ms": round(max((p[1] for p in pauses), default=0.0), 1),
        "big_pauses": [
            {"epoch_ms": p[0], "ms": round(p[1], 1), "kind": p[2]}
            for p in pauses if p[1] >= 200.0],
    }
    if len(sys.argv) > 2:
        line = [l for l in open(sys.argv[2]) if '"metric":"stream_ingest"' in l]
        if line:
            bench = json.loads(line[-1][line[-1].index("{"):])
            out["mode"] = bench.get("mode")
            out["p95_latency_s"] = bench.get("p95_latency_s")
            out["per_batch_lat_s"] = bench.get("per_batch_lat_s")
            exit_ms = bench.get("epoch_ms_at_exit")
            if exit_ms:
                for p in out["big_pauses"]:
                    p["s_before_exit"] = round((exit_ms - p["epoch_ms"]) / 1000.0, 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
