"""Product-path benchmark of the mds_provider_spark engine (see README.md)."""
