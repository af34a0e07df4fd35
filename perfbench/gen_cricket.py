"""Seeded Cricsheet-shaped corpus and deltas for the `ingest` workload.

Layout written under <out_dir>:
  corpus/m00000.json ...   the full load; about 1 in 5 files uses the
                           v1.0.0 spellings (registry.match id, striker /
                           nonStriker, scalar runs, single `wicket` dict)
                           and about 1 in 30 re-releases an earlier
                           file's match id (a later file wins)
  delta_00/d00_0000.json   each delta replaces a few percent of the
  delta_01/...             corpus: same-type replacements, matches that
                           move to another match_type partition, and new
                           matches
  warmup/, warmup_delta/   a few matches that set-up loads and upserts
                           once, untimed, so the timed ETL calls run warm
  expected.json            what the ETL must produce: delivery rows and
                           total runs of the full load, distinct matches,
                           and matches per match_type partition after the
                           load and after each delta

Every byte comes from one numpy PCG64 stream, so a seed always yields
byte-identical files.

Usage: python3 perfbench/gen_cricket.py <out_dir> <seed> [matches] [deltas]
"""
import json
import sys
from collections import Counter
from pathlib import Path

import numpy as np

TEAMS = ["Alpha", "Bravo", "Charlie", "Delta", "Echo", "Foxtrot"]
OVERS = {"T10": 10, "T20": 20, "ODI": 50}
TYPE_SHARES = [("T20", 0.6), ("T10", 0.25), ("ODI", 0.15)]
RUNS = [0, 0, 0, 1, 1, 1, 2, 3, 4, 6]


class _Gen:
    def __init__(self, seed):
        self.rng = np.random.Generator(np.random.PCG64(seed))

    def int(self, n):
        return int(self.rng.integers(0, n))

    def chance(self, p):
        return bool(self.rng.random() < p)

    def deal(self, n, shares):
        """`n` labels in seeded order, each label's count fixed by its share,
        so the corpus size does not depend on the seed."""
        out = []
        for label, share in shares:
            out += [label] * round(n * share)
        out += [shares[0][0]] * (n - len(out))
        return [out[i] for i in self.rng.permutation(n)]


def _innings(g, no, bat, bowl, overs, v10):
    """One innings as a JSON-ready dict plus (deliveries, total runs)."""
    bats = [f"{bat} p{i}" for i in range(1, 12)]
    bowls = [f"{bowl} b{i}" for i in range(1, 6)]
    out, runs = [], 0
    for ov in range(overs):
        bowler = bowls[g.int(len(bowls))]
        balls = []
        for ball in range(1, 7):
            bi = g.int(len(bats))
            batter, non_striker = bats[bi], bats[(bi + 1) % len(bats)]
            rb = RUNS[g.int(len(RUNS))]
            wicket = g.chance(1 / 20)
            if v10:
                d = {"striker": batter, "nonStriker": non_striker,
                     "bowler": bowler, "ball": ball, "runs": rb}
                if wicket:
                    d["wicket"] = {"kind": "caught", "player_out": batter}
                runs += rb
            else:
                extras = 1 if g.chance(0.08) else 0
                d = {"batter": batter, "non_striker": non_striker,
                     "bowler": bowler, "ball": ball,
                     "runs": {"batter": rb, "extras": extras,
                              "total": rb + extras},
                     "wickets": ([{"kind": "bowled", "player_out": batter}]
                                 if wicket else [])}
                runs += rb + extras
            balls.append(d)
        out.append({"over": ov, "deliveries": balls})
    key = "number" if v10 else "innings"
    return {key: no, "team": bat, "overs": out}, 6 * overs, runs


def _match(g, match_id, mtype, v10):
    """(file text, deliveries, total runs) of one match."""
    home = g.int(len(TEAMS))
    away = (home + 1 + g.int(len(TEAMS) - 1)) % len(TEAMS)
    th, ta = TEAMS[home], TEAMS[away]
    overs = OVERS[mtype]
    i1, n1, r1 = _innings(g, 1, th, ta, overs, v10)
    i2, n2, r2 = _innings(g, 2, ta, th, overs, v10)
    info = {"dates": [f"2024-{1 + g.int(12):02d}-{1 + g.int(28):02d}"],
            "team_type": "international", "match_type": mtype,
            "gender": "male", "teams": [th, ta],
            "venue": f"Ground{home}", "city": f"City{home}",
            "outcome": {"winner": th if g.chance(0.5) else ta,
                        "by": {"runs": 1 + g.int(80)}}}
    if v10:
        info["registry"] = {"match": match_id}
        doc = {"meta": {"data_version": "1.0.0"}, "info": info}
    else:
        info["match_id"] = match_id
        doc = {"meta": {"data_version": "1.1.0"}, "info": info}
    doc["innings"] = [i1, i2]
    return json.dumps(doc, separators=(",", ":")), n1 + n2, r1 + r2


def generate(out_dir, seed, matches=120, deltas=3):
    out = Path(out_dir)
    corpus = out / "corpus"
    corpus.mkdir(parents=True, exist_ok=True)
    g = _Gen(seed)
    state = {}  # match id -> match_type, last file wins
    deliveries = runs = 0
    types = g.deal(matches, TYPE_SHARES)
    v10 = g.deal(matches, [(False, 0.8), (True, 0.2)])
    # 1 in 30 files re-releases an earlier match; never the first ten
    rerelease = [False] * 10 + g.deal(matches - 10, [(False, 29 / 30), (True, 1 / 30)])
    for i in range(matches):
        mid = f"m{g.int(i):05d}" if rerelease[i] else f"m{i:05d}"
        text, n, r = _match(g, mid, types[i], v10[i])
        mtype = types[i]
        (corpus / f"m{i:05d}.json").write_text(text)
        state[mid] = mtype
        deliveries += n
        runs += r
    expected = {"seed": seed, "matches": matches,
                "load": {"delivery_rows": deliveries, "runs_total": runs,
                         "distinct_matches": len(state),
                         "partitions": dict(sorted(Counter(state.values()).items()))},
                "deltas": []}
    next_new = matches
    per_delta = max(3, matches * 3 // 100)
    for k in range(deltas):
        ddir = out / f"delta_{k:02d}"
        ddir.mkdir(parents=True, exist_ok=True)
        ids = sorted(state)
        touched = set()
        kinds = g.deal(per_delta, [("replace", 1 / 3), ("move", 1 / 3), ("new", 1 / 3)])
        new_types = iter(g.deal(per_delta, TYPE_SHARES))
        for j, kind in enumerate(kinds):
            if kind == "new":
                mid, next_new = f"m{next_new:05d}", next_new + 1
                mtype = next(new_types)
            else:
                mid = ids[g.int(len(ids))]
                mtype = state[mid]
                if kind == "move":
                    others = [t for t in OVERS if t != mtype]
                    mtype = others[g.int(len(others))]
            text, _, _ = _match(g, mid, mtype, v10=g.chance(0.2))
            (ddir / f"d{k:02d}_{j:04d}.json").write_text(text)
            state[mid] = mtype
            touched.add(mid)
        expected["deltas"].append({
            "dir": ddir.name, "matches": len(touched),
            "partitions": dict(sorted(Counter(state.values()).items()))})
    for sub, n in (("warmup", 4), ("warmup_delta", 2)):
        (out / sub).mkdir(parents=True, exist_ok=True)
        for j, mtype in enumerate(g.deal(n, TYPE_SHARES)):
            text, _, _ = _match(g, f"w{j:05d}", mtype, v10=j == 1)
            (out / sub / f"w{j:04d}.json").write_text(text)
    (out / "expected.json").write_text(json.dumps(expected, indent=1) + "\n")
    return expected


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             *(int(a) for a in sys.argv[3:5]))
