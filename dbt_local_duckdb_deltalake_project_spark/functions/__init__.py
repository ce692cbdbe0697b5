from .deterministic import (  # noqa: F401
    DEC,
    cents,
    davg,
    dsum,
    ln_micros,
    micros,
    sql_cents,
    sql_davg,
    sql_dsum,
    sql_ln_micros,
    sql_micros,
)
