"""Link-graph benchmark for powergraph_spark; entry point ``run.py``."""
