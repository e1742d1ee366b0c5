"""Job specification: INI parsing + validation (reference parity).

The reference's job config is a flat ``key=value`` INI with comma lists
(``test/config.ini``), parsed into ``MapReduceSpec``
(``src/mapreduce_spec.h:31-40``, parser ``:58-100``) and validated
(``:104-141``: worker count matches address count, positive counts, input
files exist). Same surface here, mapped onto Spark knobs:

- ``n_workers``       → parallelism hint (local[N] threads / executors)
- ``map_kilobytes``   → split size of the job's text read (the reference
                        snaps shards to newlines, ``src/file_shard.h:73-83``
                        — Hadoop text splits are newline-aligned natively)
- ``n_output_files``  → number of reduce partitions / output files (R)
- ``user_id``         → key into the mr.registry task registry
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class MapReduceSpec:
    n_workers: int = 0
    worker_ipaddr_ports: list[str] = field(default_factory=list)
    input_files: list[str] = field(default_factory=list)
    output_dir: str = ""
    n_output_files: int = 0
    map_kilobytes: int = 0
    user_id: str = ""


def _parse_int(key: str, value: str) -> int:
    """Strict decimal integer for numeric spec fields. The reference uses
    ``atoi`` (silent 0 on garbage, ``src/mapreduce_spec.h:72``); silent
    zeros then fail validation with a misleading message, so raise at the
    parse site instead. Python's ``int()`` alone is too lax for a config
    contract — it accepts underscore separators ("1_0" → 10) and non-ASCII
    digits — so gate on an explicit ASCII-decimal pattern first."""
    import re

    if not re.fullmatch(r"[+-]?[0-9]+", value):
        raise ValueError(f"{key}: not an integer: {value!r}")
    return int(value)


def parse_spec_text(content: str) -> MapReduceSpec:
    """Parse the reference's INI format (``src/mapreduce_spec.h:58-100``):
    one ``key=value`` per line, comma-separated lists, no sections.
    Unknown keys are ignored and later duplicates win, as in the
    reference; unlike the reference, lines without ``=`` are skipped
    rather than crashing (``key_value.at(1)`` throws) and malformed
    numerics raise ValueError rather than ``atoi``-ing to 0.

    Contract (fuzzed in tests/test_jobspec_fuzz.py): any input text either
    returns a MapReduceSpec or raises ValueError — never any other
    exception type.

    Line model: ``\\r\\n`` / ``\\r`` / ``\\n`` only — the reference's
    ``getline`` model (``src/mapreduce_spec.h:61``). ``str.splitlines()``
    would also split on form-feed/vertical-tab/U+2028 etc., fabricating
    extra "lines" inside a value (e.g. ``n_workers=0\\x0c0``) whose digit
    prefix then parses clean — exactly the atoi-style misparse this parser
    promises to prevent."""
    import re

    spec = MapReduceSpec()
    for raw in re.split(r"\r\n|\r|\n", content):
        line = raw.strip()
        if not line or line.startswith("#") or "=" not in line:
            continue
        key, _, value = line.partition("=")
        key, value = key.strip(), value.strip()
        if key == "n_workers":
            spec.n_workers = _parse_int(key, value)
        elif key == "worker_ipaddr_ports":
            spec.worker_ipaddr_ports = [v.strip() for v in value.split(",") if v.strip()]
        elif key == "input_files":
            spec.input_files = [v.strip() for v in value.split(",") if v.strip()]
        elif key == "output_dir":
            spec.output_dir = value
        elif key == "n_output_files":
            spec.n_output_files = _parse_int(key, value)
        elif key == "map_kilobytes":
            spec.map_kilobytes = _parse_int(key, value)
        elif key == "user_id":
            spec.user_id = value
    return spec


def parse_spec(config_path: str) -> MapReduceSpec:
    """Parse a job config file (see parse_spec_text)."""
    with open(config_path, encoding="utf-8") as fh:
        return parse_spec_text(fh.read())


def validate_spec(spec: MapReduceSpec) -> None:
    """Reference validation rules (``src/mapreduce_spec.h:104-141``),
    raising instead of returning false."""
    if spec.n_workers <= 0:
        raise ValueError("n_workers must be positive")
    if len(spec.worker_ipaddr_ports) != spec.n_workers:
        raise ValueError(
            f"n_workers={spec.n_workers} does not match "
            f"{len(spec.worker_ipaddr_ports)} worker addresses"
        )
    if spec.n_output_files <= 0 or spec.map_kilobytes <= 0:
        raise ValueError("n_output_files and map_kilobytes must be positive")
    if not spec.output_dir or not spec.user_id:
        raise ValueError("output_dir and user_id are required")
    missing = [p for p in spec.input_files if not os.path.exists(p)]
    if not spec.input_files or missing:
        raise ValueError(f"input files missing: {missing or 'none specified'}")


def read_and_validate_spec(config_path: str) -> MapReduceSpec:
    """Parse + validate (reference: ``src/mapreduce_impl.cc:30-32``)."""
    spec = parse_spec(config_path)
    validate_spec(spec)
    return spec
