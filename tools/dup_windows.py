#!/usr/bin/env python3
"""Report verbatim pasting in src/main: excess lines from repeated windows.

A window is WINDOW consecutive non-blank source lines, compared with
leading and trailing whitespace stripped. Every window that occurs
MIN_COUNT or more times (anywhere in the tree) marks the lines of its
second and later occurrences as excess; the first occurrence, in path
then line order, is the original. The excess is the number of distinct
marked lines, i.e. roughly how many lines folding every such paste into
one shared copy would delete. The files with excess lines follow, most
first.

Usage: python3 tools/dup_windows.py
Stdlib only; it reports and never fails, so it is not a gate.
"""
import collections
import os

WINDOW = 8
MIN_COUNT = 3
ROOT = os.path.normpath(os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "src", "main"))


def source_lines(root):
    """Yield (path, [(line_no, stripped_text)]) for each .scala file."""
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    lines = [(i, l.strip()) for i, l in enumerate(f, 1)]
                yield path, [(i, t) for i, t in lines if t]


def main():
    files = list(source_lines(ROOT))
    where = collections.defaultdict(list)  # window text -> [(file, start)]
    for fi, (_, lines) in enumerate(files):
        for s in range(len(lines) - WINDOW + 1):
            key = "\n".join(t for _, t in lines[s:s + WINDOW])
            where[key].append((fi, s))

    excess = set()  # (file index, position in its non-blank lines)
    repeated = 0
    for occ in where.values():
        if len(occ) >= MIN_COUNT:
            repeated += 1
            for fi, s in occ[1:]:
                excess.update((fi, s + k) for k in range(WINDOW))

    total = sum(len(lines) for _, lines in files)
    print(f"{len(files)} files, {total} non-blank lines; "
          f"{repeated} distinct {WINDOW}-line windows occur "
          f">= {MIN_COUNT} times; excess lines: {len(excess)}")
    per_file = collections.Counter(files[fi][0] for fi, _ in excess)
    for path, n in per_file.most_common():
        print(f"  {n:5d}  {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
