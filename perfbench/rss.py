"""Peak memory of a process tree, sampled from /proc in a process of its own.

    python3 perfbench/rss.py <pid>

Samples every 0.25 s until its stdin closes, then prints the peak in bytes.
The tree is ``<pid>`` and all its descendants except this sampler; each
process counts its proportional share (Pss) of the pages it shares with
others, so forked Python workers do not count their parent's pages again.
It runs outside the measured process so that its /proc walk (about 3 ms
per sample over ~150 processes on a 4-core host) never holds that
process's GIL.
"""

from __future__ import annotations

import os
import select
import sys

INTERVAL_S = 0.25


def tree_pss(root: int, skip: int) -> int:
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(pid)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = set(), {root}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items()
                    if pp in frontier and p not in tree and p != skip}
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def main() -> int:
    root, me = int(sys.argv[1]), os.getpid()
    peak = 0
    while True:
        peak = max(peak, tree_pss(root, me))
        ready, _, _ = select.select([sys.stdin], [], [], INTERVAL_S)
        if ready and not sys.stdin.buffer.read1(4096):
            break
    print(peak, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
