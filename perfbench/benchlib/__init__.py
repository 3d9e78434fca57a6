"""Pure helpers of the lakehouse benchmark: input generation, result
hashing, statistics and the DuckDB-side expectations."""
