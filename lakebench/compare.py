"""Compare two sets of benchmark results written to ``.lakebench_out/``.

    python3 lakebench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Prints, per workload and metric, each side's median and quartiles and the
ratio of medians.  When one side holds traced runs and the other untraced
runs of the same workload, it also prints the tracing overhead (traced
``wall_s`` minus untraced ``wall_s``), and each side's median host probe
(fixed work timed in every run), which shows whether the host itself ran
at another speed while one side was measured.  Results taken on a different number
of cpus, Spark version, driver heap or session settings are refused: their
times do not compare.
"""

from __future__ import annotations

import json
import statistics
import sys


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _stats(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def _wall(r: dict) -> float:
    m = r["metrics"]
    return (m.get("wall_s") or m["trace.wall_s"])["value"]


def _stamp(prov: dict) -> tuple:
    """What two results must share to be compared: host size, Spark version,
    driver heap and the session settings recorded with the run."""
    conf = json.dumps(prov.get("session_conf"), sort_keys=True)
    return prov["cpus"], prov["spark_version"], prov.get("driver_memory"), conf


def compare(base: list[dict], new: list[dict]) -> list[str]:
    stamps = {_stamp(r["provenance"]) for r in base + new}
    if len(stamps) != 1:
        raise SystemExit(f"refusing to compare results taken under different settings: "
                         f"{sorted(stamps)}")
    lines = []
    for wl in sorted({r["provenance"]["workload"] for r in base + new}):
        b = [r for r in base if r["provenance"]["workload"] == wl]
        n = [r for r in new if r["provenance"]["workload"] == wl]
        if not b or not n:
            continue
        for name in sorted(set(b[0]["metrics"]) & set(n[0]["metrics"])):
            bs = _stats([r["metrics"][name]["value"] for r in b])
            ns = _stats([r["metrics"][name]["value"] for r in n])
            ratio = ns[1] / bs[1] if bs[1] else float("nan")
            lines.append(f"{wl:12s} {name:34s} base {bs[1]:12.4g} [{bs[0]:.4g}, {bs[2]:.4g}]"
                         f"  new {ns[1]:12.4g} [{ns[0]:.4g}, {ns[2]:.4g}]  x{ratio:.3f}")
        if all("host_probe_s" in r["provenance"] for r in b + n):
            bp = statistics.median(r["provenance"]["host_probe_s"] for r in b)
            np_ = statistics.median(r["provenance"]["host_probe_s"] for r in n)
            lines.append(f"{wl:12s} host probe: base {bp:.4f} s, new {np_:.4f} s  x{np_ / bp:.3f}"
                         f" (a ratio far from 1 means the host ran at another speed)")
        traced = {r["provenance"]["trace"] for r in b} ^ {r["provenance"]["trace"] for r in n}
        if traced == {0, 1}:
            t = statistics.median(_wall(r) for r in b + n if r["provenance"]["trace"])
            u = statistics.median(_wall(r) for r in b + n if not r["provenance"]["trace"])
            lines.append(f"{wl:12s} tracing overhead: {t - u:+.3f} s on {u:.3f} s untraced wall")
    return lines


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    print("\n".join(compare(_load(argv[:i]), _load(argv[i + 1:]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
