from . import compat, datetime_parity

__all__ = ["compat", "datetime_parity"]
