"""Driver-window rotation audit.

The per-round correctness driver sweeps roughly the FIRST 50 entries of
``queries()``; everything else rides on the committed full-registry parity
artifact (PARITY_SELF_r{N}.json) until a later round rotates it into the
window. This script reports, for the current registry order:

- which of the first 50 entries have already had a hard driver check
  (wasted window slots — should be zero after a correct rotation), and
- the backlog of never-driver-checked entries in registry order (the
  recommended head for the NEXT round's rotation: oldest-unchecked first,
  new additions behind them).

Usage:  python scripts/registry_rotation.py [window_size]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    order = list(entrymod.queries())
    checked = entrymod.driver_checked()
    print(f"CORRECTNESS_r*.json: driver-checked = {len(checked)}")
    head = order[:window]
    wasted = [q for q in head if q in checked]
    backlog = [q for q in order if q not in checked]
    print(f"\nregistry entries: {len(order)}; window: {window}")
    print(f"window slots already driver-checked (waste): {len(wasted)}")
    for q in wasted:
        print(f"  wasted: {q}")
    print(f"never-driver-checked backlog: {len(backlog)}")
    print("recommended next-round head (first 50 of backlog after this "
          "round's window clears):")
    for q in backlog[window : window + 50]:
        print(f"  {q}")


if __name__ == "__main__":
    main()
