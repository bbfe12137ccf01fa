"""Generate REGISTRY.md: one row per registered query — implementation
site (file:line) and oracle kind. Regenerate after registry changes:

    python tools/registry_inventory.py
"""
import inspect
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.chdir(REPO_ROOT)

from petfinder_database_distributor_spark.registry import load_all  # noqa: E402

specs = load_all()

lines = [
    "# REGISTRY — generated by tools/registry_inventory.py (do not hand-edit)",
    "",
    f"{len(specs)} registered queries. Each one is checked against its",
    "DuckDB oracle by the value-hash gate at sf0.001",
    "(tests/test_oracle_parity.py, every run) and at sf0.01",
    "(`pytest -m sf001`); tests/plan_digest.json pins its plan digest.",
    "",
    "| query | impl | oracle |",
    "|---|---|---|",
]
for name, spec in specs.items():
    fn = inspect.unwrap(spec.fn)
    src = os.path.relpath(inspect.getsourcefile(fn))
    line = inspect.getsourcelines(fn)[1]
    lines.append(f"| `{name}` | `{src}:{line}` | value-hash |")

with open('REGISTRY.md', 'w') as fh:
    fh.write("\n".join(lines) + "\n")
print(f"wrote REGISTRY.md: {len(specs)} queries")
