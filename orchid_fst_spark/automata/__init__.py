from .lev_dfa import LevenshteinDFA, compile_dfa
from .trie import Trie, deletion_variants

__all__ = [
    "LevenshteinDFA",
    "compile_dfa",
    "Trie",
    "deletion_variants",
]
