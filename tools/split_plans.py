#!/usr/bin/env python3
"""Split a graft.Explain dump (========== qNNN ========== sections) into
per-query plan files: <outdir>/<query>_<suffix>.txt.

Usage: split_plans.py <dump.txt> <outdir> <suffix>
"""
import sys, os, re

dump, outdir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
os.makedirs(outdir, exist_ok=True)
with open(dump, encoding="utf-8") as f:
    text = f.read()
parts = re.split(r"\n?========== (\S+) ==========\n", text)
# parts[0] is preamble; then alternating name, body
n = 0
for i in range(1, len(parts) - 1, 2):
    # basename: a section name is never a path out of outdir
    name, body = os.path.basename(parts[i]), parts[i + 1]
    with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w",
              encoding="utf-8") as f:
        f.write(body.strip() + "\n")
    n += 1
print(f"wrote {n} plan files to {outdir} (suffix {suffix})")
