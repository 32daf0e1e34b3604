"""PBF ingest benchmark (see README.md)."""
