from .registry import QuerySpec, all_queries, all_oracles, get, pair, register  # noqa: F401
