#!/usr/bin/env python3
"""Compare two sets of scale-harness JSON lines, (op, scale) by (op, scale).

Usage:
  python3 tools/scale_parity.py --old OLD.out [OLD.out ...] \
      --new NEW.out [NEW.out ...] [--map OLD=NEW ...]

Every input file holds the stdout of a scale run: one JSON object per line
with an "op" (or "stage") name, a "scale" and the observables; other lines
are ignored. Wall-clock fields (sec, cand_ms, cand_agg_sec, prefix_sec) are
dropped before comparing. `--map 1=100` relabels the old side's scale 1 as
100, for runs whose unit of scale differs. Prints one line per (op, scale)
that is missing on a side or differs in any other field, then a summary;
exits 1 on any difference.
"""
import argparse
import json
import sys

WALL_CLOCK = {"sec", "cand_ms", "cand_agg_sec", "prefix_sec"}


def load(paths, relabel=None):
    relabel = relabel or {}
    rows = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                obj = json.loads(line)
                name = obj.get("op", obj.get("stage"))
                if name is None or "scale" not in obj:
                    continue
                key = (name, relabel.get(obj["scale"], obj["scale"]))
                if key in rows:
                    sys.exit(f"{path}: duplicate line for {key}")
                rows[key] = {k: v for k, v in obj.items()
                             if k not in WALL_CLOCK}
                rows[key]["scale"] = key[1]
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    ap.add_argument("--map", nargs="+", default=[], metavar="OLD=NEW",
                    help="relabel an old-side scale")
    a = ap.parse_args()
    relabel = {int(o): int(n) for o, n in (m.split("=") for m in a.map)}
    old, new = load(a.old, relabel), load(a.new)
    bad = 0
    for key in sorted(old.keys() | new.keys(), key=str):
        o, n = old.get(key), new.get(key)
        if o is None or n is None:
            bad += 1
            print(f"MISSING {key}: old={o is not None} new={n is not None}")
        elif o != n:
            bad += 1
            print(f"DIFF {key}: old={o} new={n}")
    same = len(old.keys() & new.keys()) - sum(
        1 for k in old.keys() & new.keys() if old[k] != new[k])
    print(f"{same} (op, scale) lines identical, {bad} differ or missing "
          f"(old {len(old)}, new {len(new)})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
