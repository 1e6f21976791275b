"""Link-graph benchmark for the ccl_spark engine; entry point run.py."""
