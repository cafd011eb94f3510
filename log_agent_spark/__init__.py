"""log_agent_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference system
(``cobolbaby/log-agent``, a Go streaming log-collection agent; see
``SURVEY.md``) on Apache Spark:

- the reference's dataflow pipeline (file-event source with its per-path
  debounce → micro-batch → enrich/validate/transform → priority-ordered
  multi-sink fan-out → incremental state commit) re-built on Structured
  Streaming and the DataFrame API, and
- the relational/query surface the reference lacks (joins, aggregations,
  windows, set ops, SQL) exposed through Spark SQL / Catalyst, plus
- large-scale training-data-pipeline operators (exact + near dedup,
  embedding similarity search, multimodal binary columns, text analysis).

Design rules (see SURVEY.md §7): DataFrame-first, Catalyst-optimizable plans,
Pandas UDFs only where built-ins genuinely can't express the semantics
(zip explode, gzip), no RDDs, no driver-side loops.
"""

__version__ = "0.1.0"

from log_agent_spark.session import get_spark  # noqa: F401
