"""Locator resolution: relative locators against bucket+prefix, scheme
normalization for Spark, and wildcard substitution (reference surface:
ankaflow/connections/connection.py:40-121 + common/path.py — same
behavior contract, fresh implementation).

Rules:
* absolute URIs (``s3://…``, ``gs://…``, ``hdfs://…``, ``/abs/path``,
  ``http(s)://…``) pass through, with ``s3 -> s3a`` / ``gs -> gcs``
  scheme mapping because Spark's Hadoop connectors register those.
* relative locators join ``<bucket>/<prefix>/<name>``.
* ``use_wildcard`` rewrites a trailing date/number group in the file
  stem to ``*`` (``data-2024.parquet`` -> ``data-*.parquet``) so
  partitioned file families resolve in one glob — Spark readers accept
  globs natively.
"""

from __future__ import annotations

import fnmatch
import os
import re
from dataclasses import dataclass
from typing import Optional

_SCHEME_MAP = {"s3": "s3a", "gs": "gcs"}
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")
_WILDCARD_RE = re.compile(r"([-_.]?)\d+(?=\.[A-Za-z0-9]+$)")


def normalize_scheme(uri: str) -> str:
    m = _SCHEME_RE.match(uri)
    if not m:
        return uri
    scheme = m.group(1).lower()
    mapped = _SCHEME_MAP.get(scheme)
    return f"{mapped}://{uri[m.end():]}" if mapped else uri


def wildcardize(name: str) -> str:
    """``data-2024.parquet`` -> ``data-*.parquet``, ``events_20240101.json``
    -> ``events_*.json`` (trailing number group in the stem becomes ``*``,
    preserving the separator so the glob still matches the file family);
    names without a trailing number pass through unchanged."""
    return _WILDCARD_RE.sub(r"\1*", name)


def _path_parts(uri: str) -> list:
    """Scheme (``""`` for the local filesystem) + path components."""
    uri = normalize_scheme(re.sub(r"^file:", "", uri))
    m = _SCHEME_RE.match(uri)
    scheme, rest = (m.group(0).lower(), uri[m.end():]) if m else ("", os.path.abspath(uri))
    return [scheme] + [p for p in rest.split("/") if p]


def paths_overlap(read: str, written: str) -> bool:
    """Can writing ``written`` replace or delete a file that a read of
    ``read`` (a glob allowed) lists? Yes when their common leading
    components match — equal paths, one under the other, or the glob
    matching the written path, an ancestor of it or one of its files.
    Hadoop's ``{a,b}`` alternation is taken to match anything."""
    return all(
        "{" in r or fnmatch.fnmatchcase(w, r)
        for r, w in zip(_path_parts(read), _path_parts(written))
    )


@dataclass
class Locator:
    bucket: Optional[str] = None
    prefix: Optional[str] = None

    def locate(self, name: str, use_wildcard: bool = False) -> str:
        if use_wildcard:
            name = wildcardize(name)
        if _SCHEME_RE.match(name) or name.startswith("/"):
            return normalize_scheme(name)
        parts = [p.strip("/") for p in (self.bucket, self.prefix) if p]
        if not parts:
            return name
        base = normalize_scheme("/".join(parts))
        if (self.bucket or "").startswith("/"):
            base = "/" + base
        return f"{base}/{name.lstrip('/')}"
