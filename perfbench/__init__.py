"""End-to-end benchmark for lucene_spark (see perfbench/README.md)."""
