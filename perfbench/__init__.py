"""Repository benchmark: ingest drain, relational star joins and iterative curation."""
