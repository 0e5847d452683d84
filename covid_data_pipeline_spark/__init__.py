"""covid_data_pipeline_spark — a PySpark-native analytics engine.

A clean-room, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline (bouncerist/covid_data_pipeline):
a four-layer medallion warehouse (raw → ods → dds → data_mart) with
window-function analytics and threshold alerting, plus the large-scale
training-data operators (dedup, similarity search, text analysis,
multimodal column plumbing) a 100 TB Spark deployment needs.

Everything is declarative DataFrame/SQL (Catalyst-optimizable built-ins);
Pandas UDFs only where built-ins genuinely cannot express the semantics.

Lineage-cut durability contract (ADVICE r10 #1): many operators
truncate multi-consumer subtrees with ``localCheckpoint(eager=False)``
(Catalyst shares no subtrees, so an uncut k-consumer relation re-runs
its whole upstream chain k times). Local-checkpoint blocks live on the
executors that computed them and are NOT replicated: under executor
loss or dynamic-allocation scale-in the job fails and must be re-run
from the source (Spark cannot recompute a truncated lineage), and the
cut also hides size statistics from size-based join planning below it
(this library pins its small-side joins with explicit
``F.broadcast``). This is the intended trade on the warehouse target —
jobs are idempotent retries from parquet — but deployments that need
mid-job executor-loss tolerance (spot fleets, aggressive dynamic
allocation) should prefer reliable ``checkpoint()`` to a configured
checkpoint dir, or persist(DISK_ONLY with replication), at those sites.

Layout:
  session    — SparkSession builder with scale-aware defaults
  sources    — readers (csv/parquet/table/jdbc) and sinks (append /
               dynamic-partition-overwrite / replace, jdbc)
  functions  — column-level building blocks (conform, scalar, text)
  operators  — dataframe-level operators (relational, windows, dedup,
               similarity, multimodal)
  plans      — the covid medallion pipeline (raw/ods/dds/mart/alerts)
  streaming  — event-time windows (batch, or watermarked on a stream)
  observe    — the Spark-job counter (job tags read back from the
               AppStatusStore)
"""

__version__ = "0.1.0"
