from fitness_nutrition_data_pipeline_spark.sources.testdata import TABLES

__all__ = ["TABLES"]
