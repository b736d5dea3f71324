from .parse import parse_envelope
from .reassemble import reassemble_sql
from .enrich import enrich
from .aggregate import sink_counts

__all__ = ["parse_envelope", "reassemble_sql", "enrich", "sink_counts"]
