"""Ini config loading with search-path fallback — the S6 config source.

Reference behavior (/root/reference/lib/config.js:13-35): try
``<etcDir>``, then ``/etc``, then ``./`` and load the first readable
``log-ship-elastic-postfix.ini``; defaults applied on top
(lib/logship.js:48-63). Here the ini surface maps onto
:class:`~.plans.pipeline.PipelineConfig`; unknown sections are
preserved for extensions (the reference's pluggable-module sections).
"""

from __future__ import annotations

import configparser
import datetime as dt
import os
from typing import Optional

from .plans.pipeline import PipelineConfig

INI_NAME = "log-ship-elastic-postfix-spark.ini"


def find_config(etc_dir: Optional[str] = None,
                ini_name: str = INI_NAME) -> Optional[str]:
    """First readable ini on the reference's search path."""
    candidates = []
    if etc_dir:
        candidates.append(os.path.join(etc_dir, ini_name))
    candidates.append(os.path.join("/etc", ini_name))
    candidates.append(os.path.join(".", ini_name))
    for path in candidates:
        if os.path.isfile(path) and os.access(path, os.R_OK):
            return path
    return None


def load_config(etc_dir: Optional[str] = None,
                ini_name: str = INI_NAME) -> PipelineConfig:
    """ini → PipelineConfig with reference-shaped defaults.

    Recognized keys (section.key → reference analog):
      parser.timezone  → parser.timezone (ini:25)
      reader.batches   → reader.batchLimit-shaped batch planning (ini:36)
      elastic.index    → orphan sink name (ini:47)
      elastic.parent_index → parent sink name
    """
    path = find_config(etc_dir, ini_name)
    cfg = PipelineConfig()
    if path is None:
        return cfg
    ini = configparser.ConfigParser()
    ini.read(path)

    def get(section: str, key: str, fallback=None):
        return ini.get(section, key, fallback=fallback) \
            if ini.has_section(section) else fallback

    tz = get("parser", "timezone", cfg.tz)
    n_batches = int(get("reader", "batches", cfg.n_batches))
    orphan = get("elastic", "index", cfg.orphan_sink)
    parent = get("elastic", "parent_index", cfg.parent_sink)
    now_s = get("parser", "now", None)
    now = dt.datetime.fromisoformat(now_s) if now_s else cfg.now
    return PipelineConfig(tz=tz, now=now, n_batches=n_batches,
                          orphan_sink=orphan, parent_sink=parent)
