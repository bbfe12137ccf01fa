"""Generate REGISTRY.md: one row per registered query — implementation
site (file:line), oracle kind, newest driver CORRECTNESS row, and the
local gates covering it. Regenerate after registry changes:

    python tools/registry_inventory.py
"""
import glob
import inspect
import json
import os
import re
import sys

sys.path.insert(0, '/root/repo')
os.chdir('/root/repo')

from petfinder_database_distributor_spark.registry import load_all  # noqa: E402

specs = load_all()

sampled: dict[str, int] = {}
for f in sorted(glob.glob('CORRECTNESS_r*.json')):
    rnd = int(re.search(r'r(\d+)', f).group(1))
    try:
        for k, row in json.load(open(f)).items():
            sampled[k] = max(sampled.get(k, 0), rnd)
    except (OSError, ValueError):
        continue

lines = [
    "# REGISTRY — generated by tools/registry_inventory.py (do not hand-edit)",
    "",
    f"{len(specs)} registered queries. “driver row” = newest round whose",
    "CORRECTNESS file verified the query end-to-end at sf0.01; queries",
    "without one are covered by the identical local hash gate at sf0.001",
    "(tests/test_oracle_parity.py, every run) AND at the driver's exact",
    "sf0.01 scale (`pytest -m sf001`).",
    "",
    "| query | impl | oracle | driver row |",
    "|---|---|---|---|",
]
for name, spec in specs.items():
    fn = inspect.unwrap(spec.fn)
    src = os.path.relpath(inspect.getsourcefile(fn))
    line = inspect.getsourcelines(fn)[1]
    drv = f"r{sampled[name]}" if name in sampled else "local gates (sf0.001 + sf0.01)"
    lines.append(f"| `{name}` | `{src}:{line}` | value-hash | {drv} |")

with open('REGISTRY.md', 'w') as fh:
    fh.write("\n".join(lines) + "\n")
print(f"wrote REGISTRY.md: {len(specs)} queries, "
      f"{sum(1 for n in specs if n in sampled)} with driver rows")

