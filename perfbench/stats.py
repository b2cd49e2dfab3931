"""Order statistics used for every reported figure."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(Q1, Q3) as `statistics.quantiles(values, n=4)` gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)
