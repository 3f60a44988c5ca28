"""Structured Streaming layer (SURVEY.md §2.8 T1-T7, §7.1 step 6)."""

from .candles import (  # noqa: F401
    stream_candles,
    stream_sliding_stats,
    stream_sliding_stats_paned,
)
from .continuous_agg import (  # noqa: F401
    compact_continuous_aggregate,
    read_continuous_aggregate,
    stream_candle_partials,
)
from .ann import stream_ivfpq_index  # noqa: F401
from .corpus import stream_curate  # noqa: F401
from .stateful import stateful_ewma_bucketed  # noqa: F401
