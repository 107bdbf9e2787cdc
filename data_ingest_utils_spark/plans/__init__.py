"""Query plans — one module per SURVEY.md §2 category.

Importing this package populates ``QUERIES`` / ``ORACLES`` (side
effect of the ``@plan`` decorators).
"""

from data_ingest_utils_spark.plans.registry import ORACLES, QUERIES, plan

# Registration side effects — order mirrors SURVEY §2.
from data_ingest_utils_spark.plans import scans  # noqa: E402,F401  (§2a)
from data_ingest_utils_spark.plans import ingestion  # noqa: E402,F401  (§2b)
from data_ingest_utils_spark.plans import select  # noqa: E402,F401  (§2c)
from data_ingest_utils_spark.plans import joins  # noqa: E402,F401  (§2d)
from data_ingest_utils_spark.plans import aggregates  # noqa: E402,F401  (§2e)
from data_ingest_utils_spark.plans import windows  # noqa: E402,F401  (§2f)
from data_ingest_utils_spark.plans import sorts_sets  # noqa: E402,F401  (§2g,2h)
from data_ingest_utils_spark.plans import scalars  # noqa: E402,F401  (§2i)
from data_ingest_utils_spark.plans import analytics  # noqa: E402,F401  (§2 extensions)
# udfs registers BEFORE events/llm: the cheap §2l keys sit ahead of
# the heavy LLM block in the driver's iteration order, so a truncated
# correctness run loses the least coverage (round-1 lesson).
from data_ingest_utils_spark.plans import udfs  # noqa: E402,F401  (§2l)
from data_ingest_utils_spark.plans import events  # noqa: E402,F401  (§2j)
from data_ingest_utils_spark.plans import llm  # noqa: E402,F401  (§2k + brief extras)


__all__ = ["QUERIES", "ORACLES", "plan"]
