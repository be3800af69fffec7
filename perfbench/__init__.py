"""KG query benchmark for knovexlite_spark (see README.md)."""
