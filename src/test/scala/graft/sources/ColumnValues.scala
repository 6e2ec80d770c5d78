package graft.sources

/** A decoded column's elements boxed, null for null, for assertions. */
object ColumnValues {
  def apply(c: StationColumn): Seq[Any] = (0 until c.length).map { i =>
    if (c.isNull(i)) null
    else c match {
      case StationColumn.Doubles(_, vs, _) => vs(i)
      case StationColumn.Longs(_, vs, _) => vs(i)
      case StationColumn.Strings(_, vs) => vs(i)
      case StationColumn.Booleans(_, vs, _) => vs(i)
    }
  }
}
