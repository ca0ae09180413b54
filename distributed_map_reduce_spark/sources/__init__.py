from .catalog import TABLES, load_table, load_tables, normalize_events_ts, register_views

__all__ = ["TABLES", "load_table", "load_tables", "normalize_events_ts", "register_views"]
