"""Error semantics of the reference API.

BadIdsError mirrors opentree/plugins/BadIdsException.java:9-51 — an HTTP 400
that CARRIES the partial result payload (tree_of_life_v3.java:359-361): the
response map built so far is attached so clients see which ids resolved.
"""

from __future__ import annotations


class BadInputError(ValueError):
    """Invalid argument (maps to HTTP 400 with message only)."""


class BadIdsError(ValueError):
    """Some ids unknown or not in the synthetic tree; carries the partial
    response payload (BadIdsException.java:15-24)."""

    def __init__(self, message: str, payload: dict):
        super().__init__(message)
        self.payload = payload
