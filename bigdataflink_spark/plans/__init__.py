from bigdataflink_spark.plans.star import build_star, cleanse_sales

__all__ = ["build_star", "cleanse_sales"]
