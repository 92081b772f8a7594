"""rottnest_spark benchmark (see README.md)."""
