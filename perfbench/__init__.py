"""End-to-end and per-layer benchmark of the index build, serving and live
ingest paths; see README.md in this directory."""
