"""Per-query implementation digests — the changed-implementation gate rule.

VERDICT r10 "What's wrong" #1: four queries whose implementations changed
in round 10 (ACF window fold, ANOVA/Levene divmod, LSH checkpoint
threading) were not re-gated, so the driver's own evidence for them went
stale while gate slots sat empty. The repo's stated policy — GATE = new
debuts + changed-implementation re-checks + oldest rotated greens — was
manual; this tool + tests/test_entry.py::test_changed_impl_queries_are_gated
make it mechanical.

Digest = sha256 over the query's builder-function source (via
``inspect.getsource``, which includes the ``@query(...)`` decorator block
and therefore the oracle literal) concatenated with the registered oracle
text (belt and braces for oracles built from shared constants). The
source is passed through ``textwrap.dedent`` first, so a builder that
moves between module level and a nested block (an ``if`` guard) keeps
its digest; only an edit to its text changes it.

Snapshot protocol (one file, ``tools/query_digests_prev.json``):

- The snapshot records the digests of the PREVIOUS round's final code
  plus ``{"round": N}``.
- At the START of each round — before changing any query — the builder
  regenerates it from the previous round's final commit (or simply from
  the unmodified checkout) with ``--write --round N``.
- ``test_changed_impl_queries_are_gated`` then fails whenever a query
  whose digest differs from the snapshot (or is new) is missing from
  ``registry.GATE``; ``test_digest_snapshot_is_current_round`` fails if
  the snapshot's recorded round is not exactly (newest CORRECTNESS_r*.json
  round), which forces the regeneration each round and forbids
  regenerating it mid-round to dodge the rule.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import re
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT_PATH = os.path.join(REPO, "tools", "query_digests_prev.json")


def compute_digests() -> dict[str, str]:
    import sys

    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from wireduck_spark.registry import load_all_queries

    out = {}
    for name, spec in sorted(load_all_queries().items()):
        src = textwrap.dedent(inspect.getsource(spec.fn))
        payload = src + "\n@@ORACLE@@\n" + (spec.oracle or "")
        out[name] = hashlib.sha256(payload.encode("utf-8")).hexdigest()
    return out


def newest_correctness_round(repo: str = REPO) -> int:
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    ]
    return max(rounds) if rounds else 0


def load_snapshot(path: str = SNAPSHOT_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def changed_or_new(current: dict[str, str], snapshot: dict) -> list[str]:
    prev = snapshot["digests"]
    return sorted(n for n, d in current.items() if prev.get(n) != d)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--write", action="store_true",
                    help="write the snapshot (start-of-round ritual)")
    ap.add_argument("--round", type=int, default=None,
                    help="round the snapshot represents (default: newest "
                         "CORRECTNESS_r*.json round)")
    ap.add_argument("--out", default=SNAPSHOT_PATH)
    args = ap.parse_args()

    digests = compute_digests()
    if args.write:
        rnd = args.round if args.round is not None \
            else newest_correctness_round()
        with open(args.out, "w") as fh:
            json.dump({"round": rnd, "digests": digests}, fh, indent=1,
                      sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(digests)} digests (round {rnd}) -> {args.out}")
    else:
        snap = load_snapshot(args.out)
        diff = changed_or_new(digests, snap)
        print(f"snapshot round {snap['round']}: "
              f"{len(diff)} changed/new of {len(digests)}")
        for n in diff:
            print(f"  {n}")


if __name__ == "__main__":
    main()
