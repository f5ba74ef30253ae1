"""Compose the 50-slot driver correctness window by the steady-state
policy (VERDICT r8 Next #7) and optionally rewrite GRADED_FIRST.

The driver grades the FIRST 50 registry entries each round. Through
round 8 the window was a hand-pinned list; from round 9 it is derived
mechanically so rotation is one command:

    python tools/compose_window.py              # print the 50 window names
    python tools/compose_window.py --update     # rewrite registry.py in place
    python tools/compose_window.py --update --round N   # pin the round

Policy, in priority order (ties broken by name so the output is stable):

1. **Never-driver-graded** queries, in registry order — a new query must
   get its first record before anything is re-certified.
2. **Stale grades** (tools/stale_grades.py: the implementing closure
   changed after the round that graded the query), oldest grade first —
   re-certify code the driver has not seen.
3. **Grade age**: remaining slots go to fresh queries with the OLDEST
   driver grade, so long-standing records keep rotating forward and
   every grade eventually re-earns itself. Oracle-checked queries rank
   ahead of oracle-less ones within this tier: a spare slot should buy a
   hash-comparable record, not another rows-only count. (Tiers 1-2 take
   rows-only queries unconditionally — a new or stale query must be
   re-certified whatever the strength of its check; the round-9 window
   carries q72 and q23 rows-only for exactly that reason.)
   **Rows-only re-cert slot** (r10 verdict Next #5): strict
   oracle-first ranking meant an unchanged rows-only grade NEVER
   rotated back in (q80's record sat at round 3 for seven rounds), so
   ONE slot per round goes to the single OLDEST rows-only grade before
   the oracle-checked age order fills the rest — a ceiling on
   weak-grade age at the cost of one hash slot in fifty.

The window is composed FOR a round N: only CORRECTNESS records from
rounds < N feed the policy, and staleness is judged at HEAD against each
grade round's verdict-commit snapshot. That makes the composition
reproducible after round N's own record lands — the policy test
(tests/test_registry_order.py) recomputes it from
`registry.WINDOW_COMPOSED_FOR_ROUND` and asserts GRADED_FIRST starts
with exactly these 50 names.

--update rewrites ONLY the GRADED_FIRST tuple literal (window first,
then every other query in its previous relative order) and the
WINDOW_COMPOSED_FOR_ROUND constant; registry.py stays a pure literal
module that imports without git or correctness files.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(REPO, "docling_api_spark", "plans", "registry.py")
WINDOW = 50

sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stale_grades import compute_stale  # noqa: E402


def compose(as_of_round: int | None = None) -> list[str]:
    """The 50 window names per the policy, for a window composed FOR
    ``as_of_round`` (grades from rounds < as_of_round)."""
    from docling_api_spark.plans import all_queries

    stale, _fresh, _missing, grades = compute_stale(as_of_round)
    registry = all_queries()

    window: list[str] = [n for n in registry if n not in grades][:WINDOW]
    taken = set(window)
    for name, _rnd, _why in stale:  # already (grade round, name)-sorted
        if len(window) >= WINDOW:
            break
        if name not in taken:
            window.append(name)
            taken.add(name)
    if len(window) < WINDOW:
        stale_names = {s[0] for s in stale}
        fresh = [n for n in registry if n in grades and n not in stale_names]
        # one re-cert slot for the single OLDEST rows-only grade (r10
        # verdict Next #5) — without it the oracle-first ranking below
        # starves unchanged rows-only grades forever
        rows_only_by_age = sorted(
            (n for n in fresh if registry[n].oracle is None and n not in taken),
            key=lambda n: (grades[n], n),
        )
        if rows_only_by_age:
            window.append(rows_only_by_age[0])
            taken.add(rows_only_by_age[0])
        fresh_by_age = sorted(
            fresh,
            key=lambda n: (registry[n].oracle is None, grades[n], n),
        )
        for name in fresh_by_age:
            if len(window) >= WINDOW:
                break
            if name not in taken:
                window.append(name)
                taken.add(name)
    return window[:WINDOW]


def default_round() -> int:
    rounds = [
        int(m.group(1))
        for p in os.listdir(REPO)
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return (max(rounds) if rounds else 0) + 1


def rewrite_registry_source(
    src: str, window: list[str], tail: list[str], for_round: int
) -> str:
    """Pure rewrite of registry.py source: replace the GRADED_FIRST tuple
    literal (window first, then tail) and the WINDOW_COMPOSED_FOR_ROUND
    constant. Raises ValueError if either anchor is missing — unit-tested
    so a future registry reformat can't silently no-op the rotation."""
    src, n = re.subn(
        r"WINDOW_COMPOSED_FOR_ROUND: int = \d+",
        f"WINDOW_COMPOSED_FOR_ROUND: int = {for_round}",
        src,
    )
    if n != 1:
        raise ValueError("WINDOW_COMPOSED_FOR_ROUND constant not found")

    body = [f"    # ---- round-{for_round} driver window ({WINDOW}), policy-composed ----"]
    body += [f'    "{name}",' for name in window]
    # "prior tuple order": relative order of the PREVIOUS full tuple —
    # a query rotated OUT of the window therefore lands at the tail's
    # head (its prior position was inside the window), which is what a
    # same-round re-rotation shows (r10: q128 displaced by q151)
    body.append("    # ---- tail: prior tuple order (ex-window members lead) ----")
    body += [f'    "{name}",' for name in tail]
    block = "GRADED_FIRST: tuple[str, ...] = (\n" + "\n".join(body) + "\n)"
    src, n = re.subn(
        r"GRADED_FIRST: tuple\[str, \.\.\.\] = \(\n.*?\n\)",
        block,
        src,
        flags=re.DOTALL,
    )
    if n != 1:
        raise ValueError("GRADED_FIRST tuple not found")
    return src


def update_registry(window: list[str], for_round: int) -> None:
    from docling_api_spark.plans import all_queries

    with open(REGISTRY) as f:
        src = f.read()
    taken = set(window)
    prior = [n for n in all_queries() if n not in taken]
    src = rewrite_registry_source(src, window, prior, for_round)
    with open(REGISTRY, "w") as f:
        f.write(src)
    print(f"registry.py updated: round {for_round}, window {len(window)}, "
          f"tail {len(prior)}")


def main() -> None:
    args = sys.argv[1:]
    for_round = default_round()
    if "--round" in args:
        pos = args.index("--round") + 1
        if pos >= len(args) or not args[pos].isdigit():
            sys.exit("usage: compose_window.py [--update] [--round N]  "
                     "(--round needs an integer; this tool rewrites "
                     "registry.py in place)")
        for_round = int(args[pos])
    window = compose(for_round)
    if "--update" in args:
        update_registry(window, for_round)
    else:
        for name in window:
            print(name)


if __name__ == "__main__":
    main()
