"""Link-graph benchmark for drone_spark (see README.md)."""
