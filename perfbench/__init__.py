"""Repository benchmark: build / serve / ingest workloads over the
lucene_solr_spark engine. Entry point: ``python3 perfbench/run.py``;
see ``perfbench/README.md``."""
