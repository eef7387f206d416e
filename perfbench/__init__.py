"""Listing-ETL benchmark for gsmls_analysis_spark; see README.md."""
