from .deterministic import (  # noqa: F401
    DEC,
    davg,
    dsum,
    micros,
    sql_davg,
    sql_dsum,
    sql_micros,
)
