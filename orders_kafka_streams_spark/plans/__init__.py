from .explain import explain_str, pushed_filters

__all__ = ["explain_str", "pushed_filters"]
