"""Static pins on the queries() registry: its key order and its oracle
coverage (no SparkSession needed)."""


def test_bench_registry_metadata_consistent():
    """The registry dict order keeps its key-50 window boundary, and
    nearly every key has a DuckDB oracle."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # the dict is the grading order: position 50 is the r13 boundary
    # (window = the 2 r12-staged keys + the 48 keys after them)
    assert list(qs)[0] == "html_extract_docs"
    assert list(qs)[49] == "mutual_info_lang_source"
    # every queries() key has either an oracle or a rows-only design
    oracles = entrymod.oracle_sql()
    assert sum(1 for k in qs if k in oracles) >= 260
