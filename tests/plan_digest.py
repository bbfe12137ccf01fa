"""Compact plan digests of the registered queries, committed in
tests/plan_digest.json and compared by tests/test_plan_quality.py, so a
plan change shows up as a one-line diff in review.

``digest(plan_text)`` reduces the ``explain("formatted")`` text of a plan
that has not run to what a plan change shows in:

* ``operators``: how often each operator appears (join type and build
  side included, scan table names dropped);
* ``exchanges``: each shuffle or broadcast exchange's partitioning or
  broadcast mode, in plan order;
* ``pushed_filters``: each scan's pushed filters, in plan order;
* ``tokenize_chains``: how often the ``split(lower(translate`` tokenize
  chain appears (more than once per document scan means the chain is
  evaluated twice per row).

Expression ids (``#1019``), ``plan_id``s and partition counts are
stripped: they change with session history and core count, not with the
plan. :func:`query_digest` adds ``build_jobs``, the Spark jobs that
``spec.fn`` fires while it builds the frame.

Regenerate the committed file after an intended plan change:

    python -m tests.plan_digest
"""

from __future__ import annotations

import io
import json
import os
import re
from collections import Counter
from contextlib import redirect_stdout
from functools import partial

from bench import count_jobs

DIGEST_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_digest.json")

# a tree line: "+- * BroadcastHashJoin Inner BuildRight (6)", optionally
# followed by the statistics of an executed query stage
_NODE = re.compile(r"^[\s:+|*-]*([A-Z]\w*(?: [\w.]+)*) *\((\d+)\)(?:, Statistics\(.*\))?$")
_DETAIL = re.compile(r"^\((\d+)\) ")
_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r",? ?\[plan_id=\d+\]")
_PARTITIONING = re.compile(r"(hash|range)partitioning\((.*), \d+\)")
_ROUND_ROBIN = re.compile(r"RoundRobinPartitioning\(\d+\)")
_PUSHED = re.compile(r"^PushedFilters: (.*)$", re.M)


def _strip_ids(text: str) -> str:
    return _PLAN_ID.sub("", _EXPR_ID.sub("", text))


def _top_level_split(args: str) -> list[str]:
    """``args`` split at the commas outside any parentheses."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(args[start:i].strip())
            start = i + 1
    return parts + [args[start:].strip()]


def _partitioning(m: re.Match) -> str:
    """A partitioning without its partition count. Hash keys are sorted:
    Spark may order the keys of one grouping differently from one build
    to the next (they come out of a hash set keyed by expression id)."""
    keys = _top_level_split(m.group(2))
    if m.group(1) == "hash":
        keys = sorted(keys)
    return f"{m.group(1)}partitioning({', '.join(keys)})"


def _details(plan_text: str) -> dict[str, list[str]]:
    """Node id -> the lines of its block in the formatted details."""
    out: dict[str, list[str]] = {}
    node = None
    for line in plan_text.splitlines():
        m = _DETAIL.match(line)
        if m:
            node = m.group(1)
            out[node] = []
        elif not line.strip():
            node = None
        elif node is not None:
            out[node].append(line)
    return out


def digest(plan_text: str) -> dict:
    """The digest of one ``explain("formatted")`` text (see the module
    docstring)."""
    labels: dict[str, str] = {}
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if m:
            label = m.group(1)
            if label.startswith(("Scan ", "BatchScan ")):
                label = " ".join(label.split()[:2])
            labels[m.group(2)] = label
    details = _details(plan_text)
    exchanges = []
    for node, label in sorted(labels.items(), key=lambda kv: int(kv[0])):
        if label not in ("Exchange", "BroadcastExchange"):
            continue
        for line in details.get(node, []):
            if line.startswith("Arguments: "):
                args = _strip_ids(line[len("Arguments: "):])
                args = _ROUND_ROBIN.sub("RoundRobinPartitioning", args)
                exchanges.append(_PARTITIONING.sub(_partitioning, args))
    return {
        "operators": dict(sorted(Counter(labels.values()).items())),
        "exchanges": exchanges,
        "pushed_filters": [_strip_ids(f) for f in _PUSHED.findall(plan_text)],
        "tokenize_chains": plan_text.count("split(lower(translate"),
    }


def query_digest(spark, spec, sf_dir: str) -> dict:
    """Build ``spec``'s frame, counting the jobs the build fires with
    bench's job counter, and digest its plan without running it."""
    df, jobs = count_jobs(spark, partial(spec.fn, spark, sf_dir))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return {**digest(buf.getvalue()), "build_jobs": jobs}


def main() -> None:
    from petfinder_database_distributor_spark.registry import load_all
    from petfinder_database_distributor_spark.session import get_spark
    from tests.conftest import SF_SMALL

    specs = load_all()
    spark = get_spark(app_name="plan_digest")
    digests = {}
    for name, spec in specs.items():
        # the first build may stage inputs or fill a cache; the committed
        # digest is that of a build whose inputs are already staged
        query_digest(spark, spec, SF_SMALL)
        digests[name] = query_digest(spark, spec, SF_SMALL)
        print(name, digests[name]["build_jobs"], flush=True)
    # one line per query, names and keys sorted
    lines = [
        f"{json.dumps(name)}: {json.dumps(digests[name], sort_keys=True)}"
        for name in sorted(digests)
    ]
    with open(DIGEST_PATH, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {DIGEST_PATH}: {len(digests)} queries")


if __name__ == "__main__":
    main()
