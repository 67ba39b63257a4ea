"""The percentile rule for tail latencies."""

from __future__ import annotations

import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so one slow sample cannot set it.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: int) -> float | None:
    """The ``q``-th percentile (``statistics.quantiles``, inclusive
    method), or ``None`` when fewer than :data:`MIN_TAIL_SAMPLES`
    samples lie beyond it — p90 needs at least 100 samples."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    if len(values) * (100 - q) < MIN_TAIL_SAMPLES * 100:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]

