"""Pipeline benchmark for the crmint_spark engine (see README.md)."""
