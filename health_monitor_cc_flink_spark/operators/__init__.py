"""Operator layer.

Relational operators are thin, idiomatic DataFrame compositions (Catalyst
does the physical planning); the data-pipeline operators (dedup,
similarity, text, multimodal) are first-class additions beyond the
reference surface, designed for 100 TB-scale training-data curation.
"""

from .relational import (  # noqa: F401
    key_search_agg,
    unnest,
    tumble,
    hop,
    session,
    cumulate,
)
from . import dedup, multimodal, similarity, sketches, skew, text  # noqa: F401
