"""Closed-loop benchmark of the sparkml_som_spark engine (see README.md)."""
