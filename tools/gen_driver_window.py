"""Rebuild the 50-slot driver correctness window for the upcoming
round (tests/test_registration_order.py's rotation policy, executable).

Priority order, FIFO within each class:
  1. entries whose backing code CHANGED this round (named below) —
     the driver must re-prove them regardless of staleness;
  2. never-driver-green entries, first registered first checked;
  3. previously-green entries, oldest last-green round first.

Prints the two python lists to paste into catalog.py
(_DRIVER_WINDOW_FIRST / _DRIVER_WINDOW_DEFERRED) plus the resulting
per-cohort schedule so the staleness bound (age <= ceil(N/50)) can be
eyeballed before committing.  Run from the repo root:

    python tools/gen_driver_window.py changed_entry_a changed_entry_b
"""

import json
import pathlib
import re
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

WINDOW = 50


def last_green() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", path.name).group(1))
        for name, row in json.loads(path.read_text()).items():
            if (row.get("rows_match") and row.get("schema_match")
                    and row.get("hash_match") and not row.get("err")):
                last[name] = max(last.get(name, 0), rnd)
    return last


def main(changed: list[str]) -> None:
    from stock_market_data_pipeline_spark import catalog

    # registration order BEFORE the window reorder: definition order
    # of the current _DRIVER_WINDOW_FIRST is round-specific, so undo
    # it — FIFO ties break on the order entries were first registered,
    # which the post-reorder tail preserves and the fronted head does
    # not.  Approximation: fronted entries keep their fronted order
    # (they were all old registrations), tail keeps registration order.
    names = list(catalog.QUERIES)
    last = last_green()
    unknown = [c for c in changed if c not in names]
    if unknown:
        raise SystemExit(f"changed entries not in catalog: {unknown}")

    never = [n for n in names if n not in last and n not in changed]
    prev = sorted((n for n in names if n in last and n not in changed),
                  key=lambda n: (last[n], names.index(n)))
    ordered = list(changed) + never + prev
    window, deferred_never = ordered[:WINDOW], []
    # the deferral ledger holds ONLY never-green overflow — a
    # previously-green entry outside the window is governed by the
    # staleness bound instead
    for n in ordered[WINDOW:]:
        if n not in last:
            deferred_never.append(n)

    cur = max(last.values()) + 1 if last else 1
    bound = -(-len(names) // WINDOW)
    worst = {n: cur - last[n] for n in prev if n not in set(window)}
    offenders = {n: a for n, a in worst.items() if a > bound}
    print(f"# entries={len(names)} window={WINDOW} "
          f"bound=ceil(N/50)={bound} round={cur}")
    # a changed entry is fronted, not dropped from the never-green count
    never_green = len(never) + sum(c not in last for c in changed)
    print(f"# never-green={never_green} "
          f"in-window={len(window)} deferred={len(deferred_never)}")
    if offenders:
        print(f"# !! STALENESS OFFENDERS (age > {bound}): {offenders}")
    else:
        print("# staleness bound satisfied for every outside entry")

    def fmt(lst):
        out, line = [], "    "
        for n in lst:
            tok = f'"{n}", '
            if len(line) + len(tok) > 72:
                out.append(line.rstrip())
                line = "    "
            line += tok
        if line.strip():
            out.append(line.rstrip(", ").rstrip() + ",")
        return "\n".join(out).rstrip(",") + ","

    print("\n_DRIVER_WINDOW_FIRST = [")
    print(fmt(window))
    print("]")
    print("\n_DRIVER_WINDOW_DEFERRED = [")
    if deferred_never:
        print(fmt(deferred_never))
    print("]")


if __name__ == "__main__":
    main(sys.argv[1:])
