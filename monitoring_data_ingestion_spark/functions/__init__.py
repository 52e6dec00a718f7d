from .deterministic import exact_sum, exact_sum_sql
from .math import clamp, modulo, randlat, randlon
from .temporal import (
    add_calendar,
    datetime_round,
    datetime_with,
    days_since,
    iso_format,
    oscar_dates,
)
from .strings import layer_name, output_path
from .hashing import hmac_sha256_hex

__all__ = [
    "exact_sum",
    "exact_sum_sql",
    "clamp",
    "modulo",
    "randlat",
    "randlon",
    "add_calendar",
    "datetime_round",
    "datetime_with",
    "days_since",
    "iso_format",
    "oscar_dates",
    "layer_name",
    "output_path",
    "hmac_sha256_hex",
]
