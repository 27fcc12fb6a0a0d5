"""Sources & sinks: stage-table I/O with lineage manifests and the Iceberg
seam (parquet-dir layout when no Iceberg runtime is on the classpath)."""
