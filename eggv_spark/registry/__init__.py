"""The query registry: every named query, each with the DuckDB SQL
that checks it.

Each family module declares its entries with
``@register(name, oracle_sql)`` on the builder, so a name is written
once and its builder and oracle sit side by side.  Importing this
package imports the families in the order below; ``BUILDERS`` and
``ORACLES`` keep that declaration order.

A builder is ``(spark, sf_dir) -> DataFrame`` over the test-data
tables under ``sf_dir``.  Its oracle is ANSI SQL that DuckDB runs over
the same tables.  ``scripts/check_correctness.py`` compares the two by
an order-insensitive value hash.  To keep them comparable:

- every computed column is aliased identically on both sides;
- floating aggregates are rounded (sums 2dp, ratios/avgs 4dp) so
  double summation-order differences can't flip the value hash;
- timestamps cross the boundary as epoch-second BIGINTs;
- window orderings always carry a unique tiebreak column.
"""

from eggv_spark.registry import (  # noqa: F401  (importing declares)
    relational,
    aggregates,
    events,
    text,
    dedupe,
    similarity,
    graph,
    ml,
    multimodal,
    tableops,
    streaming,
    composite,
)
from eggv_spark.registry._shared import BUILDERS, ORACLES, register
