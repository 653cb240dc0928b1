"""Scalar expression helpers (SURVEY §2.8 E1–E7 and LLM-pipeline text/vector
functions). Everything here returns Column expressions that stay inside
whole-stage codegen — no Python UDFs on these paths."""

from .scene_id import make_scene_id
from .text import (
    char_ngrams,
    en_stopword_ratio,
    punct_ratio,
    token_count,
    tokens,
    word_ngrams,
)
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "make_scene_id",
    "tokens",
    "token_count",
    "punct_ratio",
    "en_stopword_ratio",
    "char_ngrams",
    "word_ngrams",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
