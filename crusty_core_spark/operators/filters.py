"""Pluggable status/load filter helpers (status_filters / load_filters).

The reference exposes three pluggable filter families
(main/src/task_filters.rs:9-22, status_filters.rs:9-14, load_filters.rs:8-19);
task filters live in operators/chain.py (chain_decide + selective_task_filter).
This module holds the status/load side:

- a custom STATUS filter is a picklable
  ``fn(status, content_type, url, depth) -> None | "term:X" | "error:X"``,
  run after the built-in Redirect/ContentType status filters;
- a custom LOAD filter is a picklable
  ``fn(status, content_type, body: bytes, url, depth) -> None | "term:X"``,
  run after the body loaded (and decompressed), before parse.

Pass them to ``CrawlEngine(custom_status_filters=..., custom_load_filters=...)``
and to ``ReferenceSimulator(...)`` — both run the identical list, so the
parity suite covers custom filters too. Both crawl paths run them through
``apply_fetch_filters``: the driver-local iteration over its fetched frame,
the distributed one inside a ``mapInPandas`` batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: built-in actions a custom status filter may still override
STATUS_FILTERED = ("processed", "head", "error:HttpTooBigResponse")


def _int_or_none(v):
    return None if v is None or pd.isna(v) else int(v)


def _str_or_none(v):
    return v if isinstance(v, str) else None


def _first_verdict(filters, args, action):
    for f in filters:
        try:
            v = f(*args)
        except Exception:
            continue  # filter errors are non-fatal (task_scheduler.rs:67-70)
        if isinstance(v, str) and v != "accept":
            return v
    return action


def apply_fetch_filters(pdf: pd.DataFrame, action, status_filters=(),
                        load_filters=()) -> np.ndarray:
    """The custom status filters, then the custom load filters, over one
    batch of fetched rows; returns the new action array.

    Reference order (task_processor.rs:60-80, status_filters.rs:9-14,
    load_filters.rs:8-19): status filters run on rows the built-in
    Redirect/ContentType filters accepted (``STATUS_FILTERED``); load
    filters run on rows whose body loaded (action ``processed``, robots
    rows exempt) against the post-status action, over the decoded body.
    The first ``"term:X"``/``"error:X"`` verdict wins; None/"accept"
    passes. Only the affected rows are visited.

    ``pdf`` carries status, content_type, url, depth, marker, html and
    content_encoding. Filters get ``status`` as int or None whatever dtype
    the batch holds it in: Spark hands a nullable int column that holds a
    null to pandas as float64."""
    from crusty_core_spark.functions.extract import decode_body

    action = np.array(action, dtype=object)
    status = pdf["status"].to_numpy(dtype=object)
    ctype = pdf["content_type"].to_numpy(dtype=object)
    url = pdf["url"].to_numpy(dtype=object)
    depth = pdf["depth"].to_numpy(dtype=object)
    if status_filters:
        for i in np.flatnonzero(np.isin(action, STATUS_FILTERED)):
            args = (_int_or_none(status[i]), _str_or_none(ctype[i]), url[i],
                    int(depth[i]))
            action[i] = _first_verdict(status_filters, args, action[i])
    if load_filters:
        marker = pdf["marker"].to_numpy(dtype=object)
        html = pdf["html"].to_numpy(dtype=object)
        enc = pdf["content_encoding"].to_numpy(dtype=object)
        for i in np.flatnonzero(action == "processed"):
            if int(marker[i]) == 1:
                continue
            h = html[i]
            body = decode_body(
                bytes(h) if isinstance(h, (bytes, bytearray, memoryview))
                else b"",
                _str_or_none(enc[i]),
            )
            args = (_int_or_none(status[i]), _str_or_none(ctype[i]), body,
                    url[i], int(depth[i]))
            action[i] = _first_verdict(load_filters, args, action[i])
    return action


def load_content_type(accepted: tuple[str, ...]):
    """The optional post-body ``load_filters::ContentType``
    (main/src/load_filters.rs:21-51): terminate AFTER the load when the
    response content-type matches none of ``accepted`` — distinct from the
    pre-body status-filter ContentType, which the engine always applies."""
    accepted = tuple(accepted)

    def f(status, content_type, body, url, depth):
        ct = content_type or ""
        if not any(a in ct for a in accepted):
            return "term:LoadContentType"
        return None

    f.__name__ = "load_content_type"
    return f


def status_code_range(lo: int, hi: int, reason: str = "StatusRange"):
    """Example custom status filter: terminate on codes outside [lo, hi]."""

    def f(status, content_type, url, depth):
        if status is not None and not (lo <= int(status) <= hi):
            return f"term:{reason}"
        return None

    f.__name__ = "status_code_range"
    return f
