from sales_data_warehouse_spark.sources.csv_ingest import ingest_csv

__all__ = ["ingest_csv"]
