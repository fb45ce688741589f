"""Public facade of the oracle-paired query catalog.

The queries live in the family modules ``catalog/c01.py`` … ``c07.py``,
which register into the one ``QUERIES``/``ORACLES`` registry of
``catalog/_base.py``. Importing them here in order fixes the
registration order that ``__spark_entry__`` and the bench read. Only
the names that callers outside the catalog use are re-exported.
"""

from social_link_prediction_spark.catalog import (  # noqa: F401  (registers in order)
    c01, c02, c03, c04, c05, c06, c07,
)
from social_link_prediction_spark.catalog._base import ORACLES, QUERIES, _t, _trunc_ntz, query
from social_link_prediction_spark.catalog.c01 import _partsupp_edges, pricing_summary
from social_link_prediction_spark.catalog.c02 import _CHUNK_SIZE, _CHUNK_STRIDE
from social_link_prediction_spark.catalog.c03 import _HUBER_K, _HUBER_ROUNDS
from social_link_prediction_spark.catalog.c04 import _CROSTON_W

__all__ = [
    "ORACLES", "QUERIES", "query", "_t", "_trunc_ntz", "_partsupp_edges",
    "pricing_summary", "_CHUNK_SIZE", "_CHUNK_STRIDE", "_HUBER_K", "_HUBER_ROUNDS",
    "_CROSTON_W",
]
