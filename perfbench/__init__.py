"""moonshot_spark benchmark (see README.md)."""
