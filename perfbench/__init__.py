"""Seeded, self-contained benchmark of the engine: workbook ingest, an
interactive relational query session and a corpus curation batch, each
checked against an independent reference and optionally traced layer by
layer. Entry point: ``python3 perfbench/run.py --workload <name>``."""
