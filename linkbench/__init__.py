"""Link-graph benchmark of the giraph_spark engine; entry point ``linkbench/run.py``."""
