from windowsession_using_kafka_flink_docker_spark.sources.batch import TABLES, load_table

__all__ = ["TABLES", "load_table"]
