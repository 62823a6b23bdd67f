"""lash_spark benchmark (see README.md)."""
