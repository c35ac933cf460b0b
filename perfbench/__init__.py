"""A benchmark of the duckdb_graphar_spark program: see README.md."""
