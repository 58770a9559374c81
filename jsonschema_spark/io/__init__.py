from .tables import load_fact_table

__all__ = ["load_fact_table"]
