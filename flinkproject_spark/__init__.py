"""flinkproject_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference real-time e-commerce warehouse (bigdataBC/FlinkProject: 10 Flink
jobs forming ODS->DWD->DWM->DWS layers, see /root/repo/SURVEY.md), re-expressed
Spark-first:

- relational core as DataFrame/Spark SQL transformations (Catalyst optimizes);
- streaming semantics via Structured Streaming (watermarks, windows, state);
- dimension lookup joins as broadcast hash joins (replacing async IO + cache);
- plus LLM-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal columns) designed for 100 TB scale.

Every public operator documents the reference behavior it reproduces with
`file:line` citations into /root/reference.
"""

__version__ = "0.1.0"
