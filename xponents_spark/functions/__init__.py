"""Scalar normalization kernel (SURVEY.md §2.9): text + geodetic functions.

Everything here is a pure function over plain Python / numpy values so it can
run inside Arrow-batched pandas UDFs on executors with zero Spark deps.
"""

from .textnorm import (  # noqa: F401
    squeeze_whitespace,
    is_ascii,
    is_upper,
    is_lower,
    is_mixed_case,
    has_diacritics,
    strip_diacritics,
    has_cjk,
    has_middle_eastern,
    is_abbreviation,
    has_irregular_punctuation,
    count_formatting_space,
    levenshtein,
)
from .geo import (  # noqa: F401
    geohash_encode,
    haversine_m,
    utm_to_ll,
    ll_to_utm,
    mgrs_to_ll,
    ll_to_mgrs,
)
