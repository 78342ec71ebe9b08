from .files import read_query_history_csv  # noqa: F401
from .synthetic import query_history_from_events, QUERY_HISTORY_CTE  # noqa: F401
