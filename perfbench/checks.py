"""Correctness checks: each compares an output of the engine with the
generator's model and returns an error message, or None when it matches."""

from __future__ import annotations

import hashlib
import re

import gen

_COUNT = re.compile(rb'^\{"count": (\d+),')


def body_count(body: bytes) -> int | None:
    """The ``count`` of a ``/pets`` body, read from its head."""
    m = _COUNT.match(body[:64])
    return int(m.group(1)) if m else None


def final_table(rows: list[dict], model: dict[str, dict]) -> str | None:
    """The final table against the last-write-wins model (link -> row):
    the same row count and the same rows in any order."""
    if len(rows) != len(model):
        return f"final table has {len(rows)} rows, the model {len(model)}"
    if gen.table_digest(rows) != gen.table_digest(model.values()):
        return "final table differs from the last-write-wins model"
    return None


def version_body(body: bytes, version: int, counts: list[int]) -> str | None:
    """A ``/pets?version=`` body carries that version's row count."""
    n = body_count(body)
    if n != counts[version]:
        return f"/pets?version={version}: count {n}, the model {counts[version]}"
    return None


def latest_body(body: bytes, v_start: int, v_end: int, counts: list[int]) -> str | None:
    """A ``/pets`` body carries the row count of a version committed
    between the start and the end of its request."""
    n = body_count(body)
    if n not in counts[v_start : v_end + 1]:
        return f"/pets: count {n} is none of versions {v_start}..{v_end}"
    return None


def csv_body(body: bytes, artifact_sha256: str) -> str | None:
    """A ``/pets.csv`` body is the CSV artifact, byte for byte."""
    if hashlib.sha256(body).hexdigest() != artifact_sha256:
        return "/pets.csv differs from the CSV artifact"
    return None
