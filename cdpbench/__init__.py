"""CDP benchmark of record: ingest and analytics workloads, see README.md."""
