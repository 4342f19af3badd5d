"""The package's one metrics sink.

Every run metric goes through ``record``: the dd queries' cap counts
(``dedup.capped_blocks``), the ANN scan stats (sim02-sim04), sk02's
sketch stats and each ER run's stage report (``ERPipeline``, under
``er_pipeline``). ``METRICS`` keeps the last value per key, and each
recording logs one line, at WARNING when the caller flags a loss (a
dropped block) so no cap is silent — like SMAPH logs every binding cap
it applies (DefaultBindingGenerator.java:135-136). Recording reads
only values the caller already holds, so it starts no Spark job.
"""

from __future__ import annotations

import logging

_LOG = logging.getLogger("smaph_spark")

#: the last value recorded under each key
METRICS: dict[str, dict] = {}


def record(key: str, values: dict, warn: bool = False) -> dict:
    """Store ``values`` under ``key``, log them and return them."""
    METRICS[key] = values
    _LOG.log(logging.WARNING if warn else logging.INFO, "%s: %s", key, values)
    return values
