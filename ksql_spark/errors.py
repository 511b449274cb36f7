"""Engine error hierarchy.

Mirrors the reference's client-side validation behavior (semantic rule
rejections in /root/reference/ksql/select_builder.go:127-187 and
create_builder.go:45-73) but raised at plan time instead of render time.
"""

from __future__ import annotations


class KsqlError(Exception):
    """Base class for all engine errors."""


class AnalysisError(KsqlError):
    """Semantic rule violation detected before execution.

    The reference validates the same rules client-side and returns an
    error from ``Expression()`` (select_builder.go:506-659); we raise
    before launching any Spark job.
    """


class SchemaError(KsqlError):
    """Declared schema disagrees with the catalog / data.

    Reference analog: reflection report mismatches
    (internal/schema/report/reflection.go:11-67).
    """


class CatalogError(KsqlError):
    """Unknown relation, duplicate relation, or invalid relation kind.

    Reference analog: relation-existence checks against the warm-up
    cache (static/relation_storage.go:40-77).
    """


class UnsupportedTypeError(KsqlError):
    """Type outside the supported KType set.

    Reference analog: kinds/ktype.go:116-137 rejecting unsigned ints,
    structs, etc.
    """


class QueryTimeoutError(KsqlError):
    """A query did not finish within its timeout; the engine stopped it
    rather than return partial results from a query left running."""
