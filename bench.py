#!/usr/bin/env python
"""The benchmark command: ``python bench.py`` is ``python harness.py bench``
(env vars, the stdout JSON line and ``BENCH_DETAIL.json`` are documented in
``harness.py``). ``HEADLINE`` is re-exported for importers."""

from __future__ import annotations

from harness import HEADLINE, main

__all__ = ["HEADLINE"]

if __name__ == "__main__":
    raise SystemExit(main(["bench"]))
