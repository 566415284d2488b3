"""Engine error types.

The reference aborts the process on invalid input via ``earlyDeath``
(reference:src/client.py:296-303) and on a flat data segment
(reference:src/server.py:209-214). A library must not ``quit(1)``, so
every such path raises a typed exception instead.
"""


class QueryError(ValueError):
    """Invalid query text or query spec (parser / validation failures)."""


class DataVariabilityError(QueryError):
    """Selected series segment has (near-)zero variance.

    Mirrors reference:src/server.py:209-214 (``var(y) <= 5e-28`` aborts).
    """

