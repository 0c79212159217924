from .tables import TABLES, load_table, load_tables, local_frame, register_views

__all__ = ["TABLES", "load_table", "load_tables", "local_frame", "register_views"]
