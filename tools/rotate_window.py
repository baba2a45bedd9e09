"""One-command, guard-gated driver-window rotation (VERDICT r07 item 7).

The r06 and r07 rotations were hand-edits and each shipped a defect (stale
QUERIES.md; 17 phantom window names). This tool makes the rotation a
deterministic function of the CORRECTNESS ledger:

    python tools/rotate_window.py --round 8 --defer name1,name2

1. computes the staleness ledger from CORRECTNESS_r{1..N-1}.json;
2. builds the MANDATORY window: every ACTIVE (non-retired) entry whose
   latest green driver row is <= N-3 — such an entry is 3 rounds stale at
   round N, the hard deadline; the staleness guard tolerates at most 2
   rounds without a slot — plus every never-certified active entry not
   explicitly deferred, erroring out, with the overflow listed, if they
   exceed 50 slots (only never-certified names are deferrable; RETIRED
   entries leave the rotation entirely and are validated, not windowed);
3. fills any remaining slots stalest-first;
4. validates every window/deferral name against the live registry (the
   phantom-name failure mode dies here, before anything is written);
5. rewrites the ROTATION-MANAGED block in queries/registry.py;
6. regenerates QUERIES.md in a fresh interpreter;
7. runs the registry + window guards (pytest) and reports.

``--check`` re-derives the window from the ledger and diffs it against
what registry.py currently pins, writing nothing.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY_PATH = os.path.join(
    REPO, "filmdatawarehouse_spark", "queries", "registry.py"
)
WINDOW_SIZE = 50
BEGIN = "# --- BEGIN ROTATION-MANAGED (tools/rotate_window.py) ---"
END = "# --- END ROTATION-MANAGED ---"


def derive_window(
    reg: list[str],
    ledger: dict[str, int],
    target_round: int,
    defer: list[str],
    window_size: int = WINDOW_SIZE,
    retired: tuple[str, ...] = (),
    include: list[str] | None = None,
) -> list[str]:
    """Pure core: the window for ``target_round`` given the registry order
    and the certification ledger. ``retired`` names (registry.RETIRED)
    leave the rotation: never mandatory, never filler — their capability
    is certified by an active sibling named in registry.RETIRED_NOTES.
    Raises SystemExit with an actionable message on any inconsistency
    (unknown/illegal deferral or retirement, over-commit). Unit-tested
    directly by tests/test_rotate_window.py."""
    both = set(retired) & set(defer)
    if both:
        raise SystemExit(f"names both retired and deferred: {sorted(both)}")
    unknown = [n for n in defer if n not in reg]
    if unknown:
        raise SystemExit(f"--defer names not registered: {unknown}")
    not_deferrable = [n for n in defer if n in ledger]
    if not_deferrable:
        raise SystemExit(
            "--defer names already have driver rows (a certified entry "
            f"rotates by staleness math, not by fiat): {not_deferrable}"
        )
    unknown_retired = [n for n in retired if n not in reg]
    if unknown_retired:
        raise SystemExit(f"RETIRED names not registered: {unknown_retired}")
    not_retirable = [n for n in retired if n not in ledger]
    if not_retirable:
        raise SystemExit(
            "RETIRED names without any prior green driver row (retiring a "
            f"never-certified query is deletion, not retirement): "
            f"{not_retirable}"
        )

    active = [n for n in reg if n not in retired]
    stale = [
        n for n in active if n in ledger and ledger[n] <= target_round - 3
    ]
    never = [n for n in active if n not in ledger and n not in defer]
    mandatory = sorted(stale, key=lambda n: (ledger[n], reg.index(n))) + never
    if len(mandatory) > window_size:
        overflow = len(mandatory) - window_size
        raise SystemExit(
            f"window over-committed: {len(stale)} stale + {len(never)} new "
            f"= {len(mandatory)} mandatory entries for {window_size} slots; "
            f"defer {overflow} more never-certified name(s) via --defer "
            f"(candidates: {never})"
        )

    window = list(mandatory)
    # --include names (r17): priority FILLER — active entries whose code
    # changed this round and should re-certify ahead of staleness math
    # (e.g. a VERDICT "give them slots" list). Validated like everything
    # else; they can never displace a mandatory entry, only other filler.
    include = [n for n in dict.fromkeys(include or []) if n not in window]
    unknown_inc = [n for n in include if n not in reg]
    if unknown_inc:
        raise SystemExit(f"--include names not registered: {unknown_inc}")
    retired_inc = [n for n in include if n in retired]
    if retired_inc:
        raise SystemExit(f"--include names are retired: {retired_inc}")
    if len(window) + len(include) > window_size:
        raise SystemExit(
            f"--include overflows the window: {len(window)} mandatory + "
            f"{len(include)} included > {window_size} slots"
        )
    window += include
    if len(window) < window_size:
        filler = sorted(
            (n for n in active if n not in window and n not in defer),
            key=lambda n: (ledger.get(n, 0), reg.index(n)),
        )
        window += filler[: window_size - len(window)]
    return window


def compute_window(
    target_round: int, defer: list[str], include: list[str] | None = None
) -> tuple[list[str], list[str]]:
    """The (window, deferred) pair for ``target_round``, derived from the
    live registry + on-disk CORRECTNESS ledger."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from gen_query_inventory import last_certified
    finally:
        sys.path.pop(0)
    from filmdatawarehouse_spark.queries.registry import RETIRED, all_queries

    reg = list(all_queries())
    ledger = last_certified(target_round - 1)
    window = derive_window(
        reg, ledger, target_round, defer, retired=RETIRED, include=include
    )
    capacity = WINDOW_SIZE * 3  # each active entry needs a slot every 3 rounds
    active = len(reg) - len(RETIRED)
    if active > capacity:
        raise SystemExit(
            f"active ({active}) exceeds steady-state capacity ({capacity}): "
            "not every entry can be re-certified within the 3-round "
            "staleness bound — retire weaker siblings or change the window "
            "contract first (registry.py GROWTH POLICY)"
        )
    print(
        f"forward math: {len(reg)} registered - {len(RETIRED)} retired = "
        f"{active} active; steady-state capacity {capacity} "
        f"({WINDOW_SIZE}-slot window x 3-round staleness bound); "
        f"headroom {capacity - active}"
        + (
            " — RESERVED (registry.py GROWTH POLICY: new capabilities land "
            "as operators + pytest oracles, no driver row)"
            if capacity - active <= 2
            else ""
        )
    )
    # r12 (VERDICT r11 item 8): the Spark-4 transformWithState sessionizer
    # twin is skipif-gated on protobuf (absent from the usual container) —
    # its applyInPandasWithState twin carries the certification. The gate
    # flipping OPEN is the signal to finally execute the equivalence test,
    # so it cannot drift unnoticed in an environment that could run it.
    try:
        import google.protobuf  # noqa: F401

        print(
            "NOTE: google.protobuf is IMPORTABLE here — the gated "
            "StatefulProcessor equivalence test can run in this "
            "environment. Run `python -m pytest "
            "tests/test_streaming.py -k tws` and record the result in "
            "VERDICT (r11 ADVICE: verify the TWS twin before relying "
            "on it)."
        )
    except ImportError:
        pass  # usual container state: twin certified via applyInPandas
    return window, list(defer)


def render_block(
    target_round: int, window: list[str], deferred: list[str], ledger: dict
) -> str:
    lines = [BEGIN, f"CURRENT_ROUND = {target_round}", ""]
    lines.append("DRIVER_PRIORITY: tuple[str, ...] = (")
    last_kind = None
    for n in window:
        kind = (
            f"r{ledger[n]:02d}-certified (staleness deadline)"
            if n in ledger and ledger[n] <= target_round - 3
            else ("driver-never-seen (new this round)" if n not in ledger
                  else f"r{ledger[n]:02d}-certified (filler slot)")
        )
        if kind != last_kind:
            lines.append(f"    # -- {kind}")
            last_kind = kind
        lines.append(f'    "{n}",')
    lines.append(")")
    lines.append("")
    lines.append("WINDOW_DEFERRED: tuple[str, ...] = (")
    if deferred:
        lines.append(
            "    # new this round, first window slot deferred to "
            f"r{target_round + 1:02d} (the staleness backlog fills the "
            "window);"
        )
        lines.append(
            "    # locally oracle-verified every pytest run in the meantime"
        )
        for n in deferred:
            lines.append(f'    "{n}",')
    lines.append(")")
    lines.append(END)
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, dest="target")
    ap.add_argument(
        "--defer",
        default="",
        help="comma-separated never-certified names to push to next round",
    )
    ap.add_argument(
        "--check",
        action="store_true",
        help="derive + diff against registry.py; write nothing",
    )
    ap.add_argument(
        "--no-tests", action="store_true", help="skip the pytest gate"
    )
    ap.add_argument(
        "--include",
        default="",
        help="comma-separated active names given priority filler slots "
        "(re-certify changed paths ahead of staleness math)",
    )
    args = ap.parse_args()
    defer = [n for n in args.defer.split(",") if n]
    include = [n for n in args.include.split(",") if n]

    window, deferred = compute_window(args.target, defer, include)
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from gen_query_inventory import last_certified
    finally:
        sys.path.pop(0)
    ledger = last_certified(args.target - 1)
    block = render_block(args.target, window, deferred, ledger)

    with open(REGISTRY_PATH) as f:
        src = f.read()
    pattern = re.compile(
        re.escape(BEGIN) + ".*?" + re.escape(END), flags=re.DOTALL
    )
    if not pattern.search(src):
        raise SystemExit(f"rotation markers not found in {REGISTRY_PATH}")
    new_src = pattern.sub(lambda _m: block, src)

    if args.check:
        if new_src == src:
            print(f"OK: registry.py already pins the derived r{args.target} window")
            return 0
        print("DRIFT: registry.py differs from the ledger-derived window")
        import difflib

        for line in difflib.unified_diff(
            src.splitlines(), new_src.splitlines(), "registry.py", "derived",
            lineterm="", n=1,
        ):
            print(line)
        return 1

    with open(REGISTRY_PATH, "w") as f:
        f.write(new_src)
    print(f"rotated registry.py to r{args.target}: {len(window)}-slot window, "
          f"{len(deferred)} deferral(s)")

    # fresh interpreter so the regenerated inventory sees the new registry
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_query_inventory.py")],
        check=True,
    )
    if not args.no_tests:
        gate = subprocess.run(
            [
                sys.executable, "-m", "pytest", "-q",
                os.path.join(REPO, "tests", "test_registry.py"),
                os.path.join(REPO, "tests", "test_plan_hygiene.py")
                + "::test_driver_window_covers_priority_queries",
            ],
            cwd=REPO,
        )
        if gate.returncode != 0:
            print("GATE FAILED — rotation written but guards are red; fix "
                  "before committing")
            return gate.returncode
    print("rotation complete and gated green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
