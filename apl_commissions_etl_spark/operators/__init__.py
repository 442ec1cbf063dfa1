from . import dedup, multimodal

__all__ = ["dedup", "multimodal"]
