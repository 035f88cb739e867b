"""Layered end-to-end benchmark of the neo4j_spark engine (see README.md)."""
