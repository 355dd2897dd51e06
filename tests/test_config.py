"""Config source (S6): ini search-path fallback + defaults, mirroring
the reference's config tests (/root/reference/test/config.js:20-30)."""

from __future__ import annotations

import textwrap

from log_ship_elastic_postfix_spark.config import find_config, load_config
from log_ship_elastic_postfix_spark.plans.pipeline import PipelineConfig


def test_defaults_when_no_ini(tmp_path):
    cfg = load_config(str(tmp_path))
    assert cfg.tz == "America/Phoenix"
    assert cfg.orphan_sink == "postfix-orphan"
    assert cfg == PipelineConfig()


def test_ini_search_path_first_readable_wins(tmp_path):
    ini = tmp_path / "log-ship-elastic-postfix-spark.ini"
    ini.write_text(textwrap.dedent("""\
        [parser]
        timezone = Europe/Berlin
        now = 2024-08-01T00:00:00
        [reader]
        batches = 16
        [elastic]
        index = web-orphan
        parent_index = web-parent
        # retired keys: an old ini still loads, and they are ignored
        [shipper]
        salt_hot_keys = true
        n_salts = 4
        """))
    assert find_config(str(tmp_path)) == str(ini)
    cfg = load_config(str(tmp_path))
    assert cfg.tz == "Europe/Berlin"
    assert cfg.n_batches == 16
    assert cfg.orphan_sink == "web-orphan"
    assert cfg.parent_sink == "web-parent"
    assert cfg.now.year == 2024
    assert not hasattr(cfg, "salt_hot_keys")
    assert not hasattr(cfg, "n_salts")
